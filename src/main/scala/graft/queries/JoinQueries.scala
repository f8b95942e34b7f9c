package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.Lake
import graft.operators.{AsOfJoin, IntervalJoin, RangeJoin, RuntimeFilter, TemporalJoin}

/** Specialized join inventory: as-of, point-in-time and range joins —
  * operators Spark lacks natively, built as shuffle-bounded compositions
  * (SURVEY.md §2b, "custom operators" preference (a)). All oracled:
  * DuckDB has native ASOF JOIN, the point-in-time and banded range joins
  * reduce to interval/BETWEEN predicates. */
object JoinQueries {

  val defs: Map[String, Q] = Map(

    // ---- as-of join: latest prior purchase per event --------------------
    "a1_asof_purchase" -> Q(
      (s, dir) => {
        val ev = Lake(s, dir).events
          .withColumn("t", expr("unix_micros(ts)")) // epoch-micros, matches oracle
        val purchases = ev.where(col("event_type") === "purchase")
          .groupBy("user_id", "t").agg(max("event_id").as("purchase_id"))
        AsOfJoin.asOfBackward(
            ev.select("event_id", "user_id", "t"), purchases,
            keys = Seq("user_id"), leftTime = "t", rightTime = "t")
          .select(col("event_id"), col("user_id"),
            col("asof_purchase_id").as("prior_purchase_id"))
          .orderBy("event_id")
      },
      Some(
        """WITH p AS (
          |  SELECT user_id, ts, max(event_id) AS purchase_id
          |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
          |SELECT e.event_id, e.user_id, p.purchase_id AS prior_purchase_id
          |FROM events e ASOF LEFT JOIN p
          |  ON e.user_id = p.user_id AND e.ts >= p.ts
          |ORDER BY e.event_id""".stripMargin),
      headline = true),

    // ---- as-of join with a bounded lookback window ----------------------
    // Same single-shuffle carry-forward plan; matches older than 30
    // minutes are nulled by the tolerance gate (purchases "expire").
    "a2_asof_tolerance" -> Q(
      (s, dir) => {
        val ev = Lake(s, dir).events
          .withColumn("t", expr("unix_micros(ts)")) // epoch-micros, matches oracle
        val purchases = ev.where(col("event_type") === "purchase")
          .groupBy("user_id", "t").agg(max("event_id").as("purchase_id"))
        AsOfJoin.asOfBackward(
            ev.select("event_id", "user_id", "t"), purchases,
            keys = Seq("user_id"), leftTime = "t", rightTime = "t",
            tolerance = Some(lit(30L * 60 * 1000000))) // 30 min in micros
          .select(col("event_id"), col("user_id"),
            col("asof_purchase_id").as("recent_purchase_id"))
          .orderBy("event_id")
      },
      Some(
        """WITH p AS (
          |  SELECT user_id, ts, max(event_id) AS purchase_id
          |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
          |SELECT e.event_id, e.user_id,
          |  CASE WHEN e.ts - p.ts <= INTERVAL '30 minutes'
          |       THEN p.purchase_id END AS recent_purchase_id
          |FROM events e ASOF LEFT JOIN p
          |  ON e.user_id = p.user_id AND e.ts >= p.ts
          |ORDER BY e.event_id""".stripMargin)),

    // ---- point-in-time join against an SCD2 history with holes ----------
    // Dimension: one version per (user, purchase instant), valid until
    // the next purchase; every third version is "retention-deleted",
    // leaving HOLES — facts falling inside a hole must match nothing,
    // the case a plain backward as-of join cannot express. The oracle is
    // the naive interval join (at most one version covers any instant,
    // so LEFT JOIN keeps the row count at |events|).
    "a3_temporal_join" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Lake(s, dir).events
          .withColumn("t", expr("unix_micros(ts)"))
        val w = Window.partitionBy("user_id").orderBy("valid_from")
        val dim = ev.where(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("t").as("valid_from"))
          .agg(max("event_id").as("purchase_id"),
            max_by(col("value"), col("event_id")).as("purchase_value"))
          .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
          .where(col("purchase_id") % 3 =!= 0)
        TemporalJoin.pointInTime(
            ev.select("event_id", "user_id", "t"), dim,
            keys = Seq("user_id"), factTime = "t",
            validFrom = "valid_from", validTo = "valid_to")
          .select(col("event_id"), col("user_id"),
            col("pit_purchase_id"), col("pit_purchase_value"))
          .orderBy("event_id")
      },
      Some(
        """WITH p0 AS (
          |  SELECT user_id, epoch_us(ts) AS valid_from,
          |    max(event_id) AS purchase_id,
          |    max_by(value, event_id) AS purchase_value
          |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
          |p AS (
          |  SELECT *, LEAD(valid_from) OVER (PARTITION BY user_id
          |    ORDER BY valid_from) AS valid_to
          |  FROM p0),
          |d AS (SELECT * FROM p WHERE purchase_id % 3 <> 0)
          |SELECT e.event_id, e.user_id,
          |  d.purchase_id AS pit_purchase_id,
          |  d.purchase_value AS pit_purchase_value
          |FROM events e LEFT JOIN d
          |  ON e.user_id = d.user_id AND epoch_us(e.ts) >= d.valid_from
          |  AND (d.valid_to IS NULL OR epoch_us(e.ts) < d.valid_to)
          |ORDER BY e.event_id""".stripMargin),
      headline = true),

    // ---- banded range join: |c_acctbal - s_acctbal| <= 10 ---------------
    "r1_range_join" -> Q(
      (s, dir) => {
        val lk = Lake(s, dir)
        RangeJoin.binnedRangeJoin(lk.customer, lk.supplier,
            "c_acctbal", "s_acctbal", width = 10.0)
          .select("c_custkey", "s_suppkey")
          .orderBy("c_custkey", "s_suppkey")
      },
      Some(
        """SELECT c_custkey, s_suppkey
          |FROM customer JOIN supplier ON abs(c_acctbal - s_acctbal) <= 10
          |ORDER BY c_custkey, s_suppkey""".stripMargin)),

    // ---- interval-overlap join: sessions × attribution windows ----------
    // Per user: 30-min-gap sessions ([first, last+gap) half-open, the
    // session_window convention) overlap-joined to 2-hour purchase
    // attribution windows [t, t+2h). A purchase always overlaps its own
    // session; the 2h window can also reach INTO the next session when
    // the inter-session gap is under 2h — those cross-session pairs are
    // what the overlap join finds and a same-session join would miss.
    // The oracle replays the islands construction and the raw overlap
    // predicate; the engine runs IntervalJoin's binned single-emission
    // plan (hash join on (user, bin), no nested loop, no distinct).
    "r2_session_overlap" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val gapUs = 30L * 60 * 1000000
        val winUs = 2L * 3600 * 1000000
        val ev = Lake(s, dir).events
          .withColumn("t", expr("unix_micros(ts)"))
        val wOrd = Window.partitionBy("user_id").orderBy("t", "event_id")
        val sessions = ev
          .withColumn("brk",
            when(lag(col("t"), 1).over(wOrd).isNull ||
              col("t") - lag(col("t"), 1).over(wOrd) >= gapUs, 1).otherwise(0))
          .withColumn("sid", sum(col("brk")).over(
            wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "sid")
          .agg(min(col("t")).as("s_start"),
            (max(col("t")) + gapUs).as("s_end"))
        val windows = ev.where(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_id"),
            col("t").as("p_start"), (col("t") + winUs).as("p_end"))
        IntervalJoin.overlaps(sessions, windows, keys = Seq("user_id"),
            lStart = "s_start", lEnd = "s_end",
            rStart = "p_start", rEnd = "p_end", binWidth = gapUs)
          .select(col("user_id"), col("s_start").as("session_start"),
            col("purchase_id"))
          .orderBy("user_id", "session_start", "purchase_id")
      },
      Some(
        """WITH m AS (
          |  SELECT user_id, epoch_us(ts) AS t, event_id, event_type,
          |    CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
          |          OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w >= 1800000000
          |         THEN 1 ELSE 0 END AS brk
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
          |), i AS (
          |  SELECT user_id, t, SUM(brk) OVER (PARTITION BY user_id
          |    ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS sid
          |  FROM m
          |), sess AS (
          |  SELECT user_id, MIN(t) AS s_start, MAX(t) + 1800000000 AS s_end
          |  FROM i GROUP BY user_id, sid
          |), p AS (
          |  SELECT user_id, event_id AS purchase_id,
          |    epoch_us(ts) AS p_start, epoch_us(ts) + 7200000000 AS p_end
          |  FROM events WHERE event_type = 'purchase')
          |SELECT sess.user_id, sess.s_start AS session_start, p.purchase_id
          |FROM sess JOIN p ON sess.user_id = p.user_id
          |  AND sess.s_start < p.p_end AND p.p_start < sess.s_end
          |ORDER BY sess.user_id, session_start, p.purchase_id""".stripMargin),
      headline = true),

    // ---- runtime Bloom-filter join pruning ------------------------------
    // The explicit runtime-filter shape: a 64 Kbit / 3-hash Bloom filter
    // over the selective dim subset's keys pre-filters the fact scan
    // before the join. The oracle is the PLAIN exact join — identical
    // output is the operator's contract (a false negative would drop a
    // row and fail the hash gate; false positives die in the exact join).
    "q45_bloom_join" -> Q(
      (s, dir) => {
        val lk = Lake(s, dir)
        val dim = lk.part.where(col("p_size") >= 48)
          .select("p_partkey", "p_brand")
        RuntimeFilter.bloomJoin(lk.lineitem, "l_partkey", dim, "p_partkey")
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
                (lit(1) - col("l_discount").cast(DecimalType(18, 2))))
              .cast(DoubleType).as("revenue"))
          .orderBy("p_brand")
      },
      Some(
        """SELECT p_brand, count(*) AS n_items,
          |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
          |       * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |WHERE p_size >= 48
          |GROUP BY p_brand
          |ORDER BY p_brand""".stripMargin)),

    // ---- sketch-driven join cardinality estimation ----------------------
    // JoinPlanner.joinStats over orders ⋈ lineitem: row counts, distinct
    // join keys per side, their overlap, the System-R-style output
    // estimate, and the broadcast/shuffle verdict — all read off two
    // 1-row theta-sketch aggregates crossed by a broadcast of single
    // rows (never data-sized). Exact gate: lgK=18 keeps the 150k-key
    // space at sf0.1 in exact mode, so every field is a deterministic
    // function of exact counts; the oracle recomputes the same FORMULA
    // (identical operand order -> bit-identical double -> floor agrees).
    "q58_join_estimate" -> Q(
      (s, dir) => graft.operators.JoinPlanner.joinStats(
        Lake(s, dir).orders, "o_orderkey",
        Lake(s, dir).lineitem, "l_orderkey"),
      Some(
        """WITH l AS (SELECT count(*) AS n_left,
          |             count(DISTINCT o_orderkey) AS d_left FROM orders),
          |r AS (SELECT count(*) AS n_right,
          |        count(DISTINCT l_orderkey) AS d_right FROM lineitem),
          |c AS (SELECT count(*) AS n_common FROM (
          |        SELECT DISTINCT o_orderkey AS k FROM orders
          |        INTERSECT
          |        SELECT DISTINCT l_orderkey AS k FROM lineitem))
          |SELECT CAST(n_left AS BIGINT) AS n_left,
          |  CAST(n_right AS BIGINT) AS n_right,
          |  CAST(d_left AS BIGINT) AS d_left,
          |  CAST(d_right AS BIGINT) AS d_right,
          |  CAST(n_common AS BIGINT) AS n_common,
          |  CAST(floor((CAST(n_left AS DOUBLE) / d_left)
          |    * (CAST(n_right AS DOUBLE) / d_right) * n_common) AS BIGINT)
          |    AS est_out,
          |  CASE WHEN least(n_left, n_right) <= 1000000 THEN
          |    (CASE WHEN n_right <= n_left THEN 'broadcast-right'
          |          ELSE 'broadcast-left' END)
          |  ELSE 'shuffle-hash' END AS strategy
          |FROM l, r, c""".stripMargin)),

    // ---- incremental join maintenance (join IVM) -----------------------
    // The two-term delta algebra checked end to end: orders/lineitem each
    // split into a stored half (even keys) and an append delta (odd
    // keys); the stored join plus IncrementalJoin.joinDelta must equal
    // the direct join over the full tables — which is exactly what the
    // oracle computes. Aggregated per priority with exact decimal sums,
    // so one lost or duplicated delta pair shifts a count or a sum and
    // fails the hash gate. Completes the IVM family: aggregates (q41),
    // distinct sketches (q49), now joins.
    "q59_join_ivm" -> Q(
      (s, dir) => {
        import graft.operators.IncrementalJoin
        val lk = Lake(s, dir)
        val o = lk.orders.select(col("o_orderkey").as("k"),
          col("o_orderpriority"))
        val l = lk.lineitem.select(col("l_orderkey").as("k"),
          col("l_extendedprice"))
        val (oBase, oDelta) = (o.where(col("k") % 2 === 0), o.where(col("k") % 2 === 1))
        val (lBase, lDelta) = (l.where(col("k") % 2 === 0), l.where(col("k") % 2 === 1))
        val stored = oBase.join(lBase, Seq("k"))
        stored.unionByName(
            IncrementalJoin.joinDelta(oBase, oDelta, lBase, lDelta, Seq("k")))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("l_extendedprice").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("revenue"))
          .orderBy("o_orderpriority")
      },
      Some(
        """SELECT o_orderpriority, COUNT(*) AS n_pairs,
          |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
          |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      headline = true),

    // ---- closed planning loop: the sketch advice EXECUTES ---------------
    // plannedJoin's two non-trivial decisions, each hash-gated against
    // the plain-join semantics it must preserve: (1) orders is under the
    // broadcast cap -> broadcast-right; (2) a 90%-hot probe key above a
    // tiny cap -> salted, with the sketch-derived salt count — the
    // decision machinery (theta distinct + frequency heavy-hitter) runs
    // inside the registered query, so a planning regression shifts a
    // count or a sum and fails the gate. The oracle is the PLAIN join
    // both times: whatever shape the planner picks, output equality is
    // the contract.
    "q61_planned_join" -> Q(
      (s, dir) => {
        import graft.operators.JoinPlanner
        val lk = Lake(s, dir)
        val bc = JoinPlanner.plannedJoin(lk.lineitem, "l_orderkey",
            lk.orders.select(col("o_orderkey"), col("o_orderpriority")),
            "o_orderkey")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("val"))
        val skewed = lk.lineitem.select(
          when(col("l_orderkey") % 10 =!= 0, lit(0L))
            .otherwise(col("l_orderkey")).as("hk"),
          col("l_extendedprice"))
        val dimKeys = lk.orders.select(
            when(col("o_orderkey") % 10 =!= 0, lit(0L))
              .otherwise(col("o_orderkey")).as("dk"))
          .distinct()
        val salted = JoinPlanner.plannedJoin(skewed, "hk", dimKeys, "dk",
            broadcastMaxRows = 10L)
          .agg(count(lit(1)).as("n"),
            sum(col("l_extendedprice").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("val"))
        bc.select(col("o_orderpriority").as("grp"), col("n"), col("val"))
          .unionByName(salted.select(lit("salted_total").as("grp"),
            col("n"), col("val")))
          .orderBy("grp")
      },
      Some(
        """WITH bc AS (
          |  SELECT o_orderpriority AS grp, CAST(count(*) AS BIGINT) AS n,
          |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS val
          |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |  GROUP BY 1),
          |sk AS (
          |  SELECT 'salted_total' AS grp, CAST(count(*) AS BIGINT) AS n,
          |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS val
          |  FROM (SELECT CASE WHEN l_orderkey % 10 <> 0 THEN 0
          |               ELSE l_orderkey END AS hk, l_extendedprice
          |        FROM lineitem) l
          |  JOIN (SELECT DISTINCT CASE WHEN o_orderkey % 10 <> 0 THEN 0
          |               ELSE o_orderkey END AS dk FROM orders) d
          |    ON l.hk = d.dk)
          |SELECT grp, n, val FROM bc
          |UNION ALL SELECT grp, n, val FROM sk
          |ORDER BY grp""".stripMargin)),

    // ---- sketch-driven star-chain ORDERING (q78) -----------------------
    // The 3+-table half of the planning loop: the chain is WRITTEN in
    // the worst order (supplier: survival 1.0 first, then orders at
    // ~0.2, the Brand#11 part filter at ~0.05 last) and starOrder must
    // invert it from sketch state alone — one theta-per-key aggregate
    // over the fact, one 1-row aggregate per dim, never a trial join.
    // The planned order is EMITTED as a gated literal ('part,orders,
    // supplier'), so a mis-ranked survival estimate fails the hash
    // compare, and the grouped aggregate pins the equality law: inner
    // equi-joins commute, so whatever order executes, the rows match
    // the written-order oracle join. Dims are broadcast off the
    // planning aggregate's exact counts (no extra job) — at sf0.1
    // that's three BroadcastHashJoins over one fact scan, the shape a
    // 1000-executor chain wants.
    "q78_star_order" -> Q(
      (s, dir) => {
        import graft.operators.JoinPlanner
        import graft.operators.JoinPlanner.StarDim
        val lk = Lake(s, dir)
        val fact = lk.lineitem.select(
          col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_extendedprice"))
        // adversarial WRITTEN order: least selective dim first
        val dims = Seq(
          StarDim("supplier",
            lk.supplier.select(col("s_suppkey"), col("s_nationkey")),
            "l_suppkey", "s_suppkey"),
          StarDim("orders",
            lk.orders.where(col("o_orderpriority") === "1-URGENT")
              .select(col("o_orderkey")),
            "l_orderkey", "o_orderkey"),
          StarDim("part",
            lk.part.where(col("p_brand") === "Brand#11")
              .select(col("p_partkey")),
            "l_partkey", "p_partkey"))
        val (joined, plan) = JoinPlanner.orderedStarJoin(fact, dims)
        joined.groupBy("s_nationkey")
          .agg(count(lit(1)).as("n"),
            sum(col("l_extendedprice").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("revenue"))
          .select(col("s_nationkey"), col("n"), col("revenue"),
            lit(plan.order.mkString(",")).as("join_order"))
          .orderBy("s_nationkey")
      },
      Some(
        """SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n,
          |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS revenue,
          |  'part,orders,supplier' AS join_order
          |FROM lineitem
          |JOIN supplier ON l_suppkey = s_suppkey
          |JOIN orders ON l_orderkey = o_orderkey
          |  AND o_orderpriority = '1-URGENT'
          |JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#11'
          |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)),

    // ---- skew-stress headline (q79) ------------------------------------
    // The SkewBench shape promoted to a GATED, BENCHED query: 90% of
    // the fact's rows collapse onto one hot key (l_orderkey % 10 <> 0
    // -> 0), the dim is too big for the tiny broadcast cap, so planFor
    // must pick 'salted' off the frequency-sketch probe (share 0.9 >>
    // 0.125) — the decision is emitted as gated literals (strategy,
    // salted), and the aggregate pins output equality with the plain
    // join the oracle runs. Without salting this plan stragglers on
    // one reducer at any scale; with it the hot key spreads over the
    // sketch-advised salt count (clamped to 64).
    "q79_skew_join" -> Q(
      (s, dir) => {
        import graft.operators.JoinPlanner
        val lk = Lake(s, dir)
        val skewed = lk.lineitem.select(
          when(col("l_orderkey") % 10 =!= 0, lit(0L))
            .otherwise(col("l_orderkey")).as("hk"),
          col("l_extendedprice"))
        // the dim is itself an aggregate: materialize it once per
        // invocation (instance-keyed localCheckpoint — recomputed from
        // parquet every run) so planFor's size/sketch stats and the
        // executed join read the same materialized rows instead of
        // re-running the orders groupBy twice (optimization r20, guide
        // §1.2 — at scale, one dim aggregation per planned join, not
        // one per stats probe plus one per execution)
        val dim = lk.orders.select(
            when(col("o_orderkey") % 10 =!= 0, lit(0L))
              .otherwise(col("o_orderkey")).as("dk"),
            col("o_orderpriority"))
          .groupBy("dk").agg(min("o_orderpriority").as("prio"))
          .localCheckpoint(true)
        val plan = JoinPlanner.planFor(skewed, "hk", dim, "dk",
          broadcastMaxRows = 10L)
        JoinPlanner.executeJoin(plan, skewed, "hk", dim, "dk")
          .groupBy("prio")
          .agg(count(lit(1)).as("n"),
            sum(col("l_extendedprice").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("val"))
          .select(col("prio"), col("n"), col("val"),
            lit(plan.strategy).as("strategy"),
            lit(plan.salts >= 2).as("salted"))
          .orderBy("prio")
      },
      Some(
        """WITH f AS (
          |  SELECT CASE WHEN l_orderkey % 10 <> 0 THEN 0
          |         ELSE l_orderkey END AS hk, l_extendedprice
          |  FROM lineitem),
          |d AS (
          |  SELECT CASE WHEN o_orderkey % 10 <> 0 THEN 0
          |         ELSE o_orderkey END AS dk,
          |    min(o_orderpriority) AS prio
          |  FROM orders GROUP BY 1)
          |SELECT prio, CAST(count(*) AS BIGINT) AS n,
          |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS val,
          |  'salted' AS strategy, TRUE AS salted
          |FROM f JOIN d ON f.hk = d.dk
          |GROUP BY prio ORDER BY prio""".stripMargin),
      headline = true),

    // ---- TRANSPARENT star ordering from persisted write-time stats -----
    // q78's ordering decision, reached with NO operator call and NO
    // plan-time probe job: the four inputs are zone-map tables whose
    // write persisted per-key theta sketches in the manifest sidecar;
    // loadStarStats READS them into the registry (the only I/O, at
    // setup); a naive DataFrame author then writes the chain in the
    // WORST order (supplier first, the Brand#11 part subset last) and
    // StarOrderRule inverts it from registry state alone — explain()
    // stays a driver-only operation (zero Spark jobs, spec-asserted in
    // StarOrderRuleSpec). The FIRED order is extracted from the
    // executing plan and hash-gated ('dim_part,dim_orders,dim_supplier'
    // — a mis-ranked survival estimate fails the compare), and the
    // grouped aggregate pins the q78 equality law on the rule path:
    // inner equi-joins commute, so the reordered chain must match the
    // written-order oracle join row for row. Serve-path convention
    // (build once if absent, q64): the timed work is the transparent
    // reorder + the join, not the table build.
    "q85_star_order_stats" -> Q(
      (s, dir) => {
        import graft.operators.ZoneMapTable
        import org.apache.spark.sql.catalyst.expressions.Attribute
        import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin, LogicalPlan, Project => LProject}
        import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
        val stage = s"target/star_stage/q85_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
        if (!ZoneMapTable.isBuilt(s, s"$stage/fact")) {
          val lk = Lake(s, dir)
          ZoneMapTable.write(
            lk.lineitem.select(col("l_orderkey"), col("l_partkey"),
              col("l_suppkey"), col("l_extendedprice")),
            s"$stage/fact", "l_orderkey", Seq("l_orderkey"), 4,
            sketchCols = Seq("l_orderkey", "l_partkey", "l_suppkey"))
          ZoneMapTable.write(
            lk.supplier.select(col("s_suppkey"), col("s_nationkey")),
            s"$stage/dim_supplier", "s_suppkey", Seq("s_suppkey"), 1,
            sketchCols = Seq("s_suppkey"))
          ZoneMapTable.write(
            lk.orders.where(col("o_orderpriority") === "1-URGENT")
              .select(col("o_orderkey")),
            s"$stage/dim_orders", "o_orderkey", Seq("o_orderkey"), 1,
            sketchCols = Seq("o_orderkey"))
          ZoneMapTable.write(
            lk.part.where(col("p_brand") === "Brand#11")
              .select(col("p_partkey")),
            s"$stage/dim_part", "p_partkey", Seq("p_partkey"), 1,
            sketchCols = Seq("p_partkey"))
        }
        // READ, never recompute: the persisted sidecars into the registry
        for (t <- Seq("fact", "dim_supplier", "dim_orders", "dim_part"))
          require(ZoneMapTable.loadStarStats(s, s"$stage/$t"),
            s"missing persisted star stats under $stage/$t")
        def scan(n: String) = graft.Lake.read(s, s"$stage/$n/data")
        val joined = scan("fact") // adversarial WRITTEN order
          .join(scan("dim_supplier"), col("l_suppkey") === col("s_suppkey"))
          .join(scan("dim_orders"), col("l_orderkey") === col("o_orderkey"))
          .join(scan("dim_part"), col("l_partkey") === col("p_partkey"))
        val agg = joined.groupBy("s_nationkey")
          .agg(count(lit(1)).as("n"),
            sum(col("l_extendedprice").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("revenue"))
        def decorate(order: String) =
          agg.select(col("s_nationkey"), col("n"), col("revenue"),
              lit(order).as("join_order"))
            .orderBy("s_nationkey")
        // extract the FIRED order from the executing plan (the literal's
        // value cannot change the plan shape — the q82 discipline)
        import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
        def strip(p: LogicalPlan): LogicalPlan = p match {
          case LProject(es, c) if es.forall(_.isInstanceOf[Attribute]) => strip(c)
          case other => other
        }
        def nameOf(p: LogicalPlan): String = strip(p) match {
          case lr: LogicalRelation =>
            lr.relation.asInstanceOf[HadoopFsRelation]
              .location.rootPaths.head.toString
              .split('/').takeRight(2).head
          case LFilter(_, c) => nameOf(c)
          case other => other.nodeName
        }
        def chain(p: LogicalPlan): Seq[String] = strip(p) match {
          case j: LJoin => chain(j.left) :+ nameOf(j.right)
          case LFilter(_, c) => chain(c)
          case _ => Seq.empty
        }
        val probe = decorate("probe").queryExecution.optimizedPlan
        val fired = probe.collectFirst { case j: LJoin => chain(j) }
          .getOrElse(Seq.empty)
        decorate(fired.mkString(","))
      },
      Some(
        """SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n,
          |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS revenue,
          |  'dim_part,dim_orders,dim_supplier' AS join_order
          |FROM lineitem
          |JOIN supplier ON l_suppkey = s_suppkey
          |JOIN orders ON l_orderkey = o_orderkey
          |  AND o_orderpriority = '1-URGENT'
          |JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#11'
          |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin),
      headline = true)
  )
}
