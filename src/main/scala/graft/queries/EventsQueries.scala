package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Lake

/** Event/time-series analytics over the `events` table.
  *
  * [[graft.Lake.events]] hands every consumer a `ts` already normalized to
  * `TimestampType` at microsecond precision (UTC session), whichever
  * physical generation the parquet carries. Where a query needs integer
  * time arithmetic it derives epoch-micros via `unix_micros(ts)` — exact
  * integer math, the precision the DuckDB oracle's `epoch_us(ts)` sees.
  * Outputs are TIMESTAMP_NTZ to match the naive timestamps the DuckDB
  * oracle sees (a value-preserving cast under the UTC session).
  *
  * Exercises the reference's epoch->timestamp derivation chain
  * (reference `etl.py:98-102`, seconds truncation) plus the streaming-style
  * operators the reference lacks: JSON property extraction, tumbling
  * windows, gap-based sessionization.
  */
object EventsQueries {

  /** The event-time column, microsecond-precision `TimestampType`
    * (normalized by [[graft.Lake.events]]). */
  private val tsMicrosExpr: Column = col("ts")

  private def events(s: SparkSession, dir: String): DataFrame =
    Lake(s, dir).events

  val defs: Map[String, Q] = Map(

    // ---- ordered funnel analysis (view -> click -> purchase) -----------
    // Stage k's timestamp is the earliest qualifying event AT OR AFTER
    // stage k-1's — three chained min-over-partition window expressions
    // sharing ONE user_id exchange (no self-joins). Timestamps stay in
    // exact integer micros end to end, matching the oracle's epoch_us.
    "q35_funnel" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id")
        events(s, dir)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("t_us"))
          .withColumn("t_view",
            min(when(col("event_type") === "view", col("t_us"))).over(w))
          .withColumn("t_click",
            min(when(col("event_type") === "click" && col("t_us") >= col("t_view"),
              col("t_us"))).over(w))
          .withColumn("t_purchase",
            min(when(col("event_type") === "purchase" && col("t_us") >= col("t_click"),
              col("t_us"))).over(w))
          .groupBy("user_id")
          .agg(max(col("t_view")).as("t_view"),
            max(col("t_click")).as("t_click"),
            max(col("t_purchase")).as("t_purchase"))
          .withColumn("funnel_stage",
            when(col("t_purchase").isNotNull, 3)
              .when(col("t_click").isNotNull, 2)
              .when(col("t_view").isNotNull, 1)
              .otherwise(0))
          .orderBy("user_id")
      },
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts FROM events),
        |v AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
        |  FROM e GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id,
        |    min(CASE WHEN e.event_type = 'click' AND e.ts >= v.t_view
        |             THEN e.ts END) AS t_click
        |  FROM e JOIN v ON v.user_id = e.user_id GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id,
        |    min(CASE WHEN e.event_type = 'purchase' AND e.ts >= c.t_click
        |             THEN e.ts END) AS t_purchase
        |  FROM e JOIN c ON c.user_id = e.user_id GROUP BY e.user_id)
        |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
        |  CAST(CASE WHEN p.t_purchase IS NOT NULL THEN 3
        |            WHEN c.t_click IS NOT NULL THEN 2
        |            WHEN v.t_view IS NOT NULL THEN 1
        |            ELSE 0 END AS INTEGER) AS funnel_stage
        |FROM v JOIN c ON c.user_id = v.user_id JOIN p ON p.user_id = v.user_id
        |ORDER BY v.user_id""".stripMargin),

    // ---- cohort retention (first-activity cohort × day offset) ---------
    // Day ids are exact integer micros-per-day divisions; one aggregation
    // for cohorts, one distinct-count keyed on (cohort, offset).
    "q36_retention" -> Q(
      (s, dir) => {
        val ev = events(s, dir)
          .select(col("user_id"),
            expr("unix_micros(ts) DIV 86400000000").as("day"))
        val cohorts = ev.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
        ev.join(cohorts, Seq("user_id"))
          .withColumn("offset_days", col("day") - col("cohort_day"))
          .groupBy("cohort_day", "offset_days")
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy("cohort_day", "offset_days")
      },
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id)
        |SELECT f.cohort_day, e.day - f.cohort_day AS offset_days,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM e JOIN f ON f.user_id = e.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ---- epoch -> timestamp with seconds truncation (etl.py:98-102) ----
    "q17_event_seconds" -> Q(
      (s, dir) => events(s, dir)
        .select(
          col("event_id"),
          col("event_type"),
          date_trunc("second", col("ts"))
            .cast(TimestampNTZType).as("ts_sec"))
        .orderBy("event_id"),
      """SELECT event_id, event_type, date_trunc('second', ts) AS ts_sec
        |FROM events ORDER BY event_id""".stripMargin),

    // ---- semi-structured: JSON property column -------------------------
    "q18_event_props" -> Q(
      (s, dir) => events(s, dir)
        .withColumn("k",
          from_json(col("props"), StructType(Seq(StructField("k", LongType))))
            .getField("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
             sum(col("k")).as("sum_k"),
             max(col("k")).as("max_k"))
        .orderBy("event_type"),
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(MAX(CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ---- tumbling window aggregation ------------------------------------
    "q19_hourly_windows" -> Q(
      (s, dir) => events(s, dir)
        .withColumn("t", tsMicrosExpr)
        .groupBy(window(col("t"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
             sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("total_value"))
        .select(
          col("window.start").cast(TimestampNTZType).as("hour_start"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy("hour_start", "event_type"),
      """SELECT date_trunc('hour', ts) AS hour_start, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,
      headline = true),

    // ---- sliding windows: 1-hour span every 30 minutes ------------------
    // Each event contributes to the 2 overlapping windows covering it;
    // the oracle replicates each event into its covering window starts
    // (the 30-min bucket and the one before it).
    "q19b_sliding_windows" -> Q(
      (s, dir) => events(s, dir)
        .withColumn("t", tsMicrosExpr)
        .groupBy(window(col("t"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("total_value"))
        .select(
          col("window.start").cast(TimestampNTZType).as("win_start"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy("win_start", "event_type"),
      """WITH covering AS (
        |  SELECT event_type, value,
        |    unnest([time_bucket(INTERVAL '30 minutes', ts),
        |            time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'])
        |      AS win_start
        |  FROM events)
        |SELECT win_start, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM covering GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin),

    // ---- lag/lead analytics: inter-event gaps per user ------------------
    "q21b_event_deltas" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // work on integer micros throughout — exact arithmetic, and the
        // same values the oracle's epoch_us sees
        val w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
        events(s, dir)
          .withColumn("t_us", unix_micros(col("ts")))
          .withColumn("gap_us", col("t_us") - lag(col("t_us"), 1).over(w))
          .select("user_id", "event_id", "gap_us")
          .orderBy("user_id", "event_id")
      },
      Some(
        """SELECT user_id, event_id,
          |  CAST(epoch_us(ts - LAG(ts) OVER w) AS BIGINT) AS gap_us
          |FROM events
          |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
          |ORDER BY user_id, event_id""".stripMargin)),

    // ---- anomaly scoring: per-type z-scores from exact decimal moments --
    // Group stats computed once, broadcast back onto the stream of events;
    // z-scores from decimal sums are order-robust (cf. q25_stats).
    "q22b_event_anomalies" -> Q(
      (s, dir) => {
        val ev = events(s, dir)
        val stats = ev.groupBy(col("event_type").as("et"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("s1"),
            sum(col("value").cast(DecimalType(18, 2))
              * col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("s2"))
          .select(col("et"),
            (col("s1") / col("n")).as("mean"),
            sqrt((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1))
              .as("sd"))
        ev.join(broadcast(stats), col("event_type") === col("et"))
          .withColumn("z", (col("value") - col("mean")) / col("sd"))
          .where(abs(col("z")) > 2.5)
          .select("event_id", "event_type", "value", "z")
          .orderBy("event_id")
      },
      Some(
        """WITH stats AS (
          |  SELECT event_type AS et,
          |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mean,
          |    sqrt((CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE)
          |          - CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
          |            * CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
          |         / (COUNT(*) - 1)) AS sd
          |  FROM events GROUP BY event_type)
          |SELECT event_id, event_type, value, (value - mean) / sd AS z
          |FROM events JOIN stats ON event_type = et
          |WHERE abs((value - mean) / sd) > 2.5
          |ORDER BY event_id""".stripMargin)),

    // ---- gap-based sessionization (session_window, 30-min gap) ---------
    // Oracle: classic gaps-and-islands via LAG. A new session starts when
    // the gap to the previous event is >= 30 min (session_window treats
    // [start, last+gap) as the open interval).
    "q20_sessions" -> Q(
      (s, dir) => events(s, dir)
        .withColumn("t", tsMicrosExpr)
        .groupBy(session_window(col("t"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
             sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("session_value"))
        .select(
          col("user_id"),
          col("session_window.start").cast(TimestampNTZType).as("session_start"),
          col("n_events"), col("session_value"))
        .orderBy("user_id", "session_start"),
      """WITH m AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), sess AS (
        |  SELECT user_id, ts, value,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
      headline = true),

    // ---- MERGE-INTO latest-wins upsert (snapshot maintenance) ----------
    // LakeMaintenance.mergeUpsert as a checkable query: the odd-event_id
    // half of the stream upserts into the even half keyed by user — an
    // update row replaces the base row for its user unconditionally, and
    // within each side the latest (ts_us, event_id) wins. Version order
    // runs on integer MICROS (unix_micros), the precision the oracle
    // sees. One user-partitioned window, parallel across keys.
    "q37_merge_upsert" -> Q(
      (s, dir) => {
        val ev = events(s, dir)
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value"))
        graft.operators.LakeMaintenance.mergeUpsert(
            ev.where(col("event_id") % 2 === 0),
            ev.where(col("event_id") % 2 === 1),
            keyCols = Seq("user_id"), versionCols = Seq("ts_us", "event_id"))
          .select("user_id", "event_id", "ts_us", "event_type", "value")
          .orderBy("user_id")
      },
      Some(
        """WITH tagged AS (
          |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value,
          |    CAST(event_id % 2 AS INTEGER) AS origin
          |  FROM events),
          |r AS (
          |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
          |    ORDER BY origin DESC, ts_us DESC, event_id DESC) AS rn
          |  FROM tagged)
          |SELECT user_id, event_id, ts_us, event_type, value
          |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // ---- SCD Type-2 interval derivation (change history) ---------------
    // Every event becomes a validity interval of its user's state:
    // valid_from = its micros, valid_to = the next event's micros (open
    // current row = NULL), is_current flags the latest. One lead()
    // window partitioned by user — the standard dimension-history build,
    // parallel across keys. Total order on (ts_us, event_id) keeps ties
    // deterministic; the null valid_to never participates in the sort.
    "q38_scd2_intervals" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("valid_from_us", "event_id")
        events(s, dir)
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("valid_from_us"))
          .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(w))
          .withColumn("is_current", col("valid_to_us").isNull)
          .orderBy("user_id", "valid_from_us", "event_id")
      },
      Some(
        """SELECT user_id, event_id, event_type,
          |  epoch_us(ts) AS valid_from_us,
          |  LEAD(epoch_us(ts), 1) OVER (PARTITION BY user_id
          |    ORDER BY epoch_us(ts), event_id) AS valid_to_us,
          |  LEAD(epoch_us(ts), 1) OVER (PARTITION BY user_id
          |    ORDER BY epoch_us(ts), event_id) IS NULL AS is_current
          |FROM events
          |ORDER BY user_id, valid_from_us, event_id""".stripMargin)),

    // ---- incremental aggregate maintenance (materialized-view merge) ---
    // The IVM primitive: a stored per-key aggregate state (count + exact
    // decimal sum — both mergeable partials) is combined with a delta
    // batch's partials by summing, and the merged snapshot must equal
    // the direct aggregate over base ∪ delta — which is exactly what the
    // oracle computes. Decimal sums make the merge independent of both
    // partial-aggregation order and the base/delta split point.
    "q41_incremental_agg" -> Q(
      (s, dir) => {
        val ev = events(s, dir)
        def partial(df: DataFrame) = df.groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast(DecimalType(18, 6))).as("sv"))
        val base = partial(ev.where(col("event_id") % 2 === 0))
        val delta = partial(ev.where(col("event_id") % 2 === 1))
        base.unionByName(delta)
          .groupBy("event_type")
          .agg(sum(col("n_events")).as("n_events"),
            sum(col("sv")).as("sv2"))
          .select(col("event_type"), col("n_events"),
            col("sv2").cast(DoubleType).as("total_value"))
          .orderBy("event_type")
      },
      Some(
        """SELECT event_type, count(*) AS n_events,
          |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
          |FROM events
          |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ---- snapshot diff (CDC change feed between table versions) --------
    // The reconciliation op a lake refresh emits: per key, what changed
    // between the old snapshot (latest state from even event ids) and
    // the new one (latest over all events, minus users ending in a
    // simulated delete set) — added / removed / updated / unchanged.
    // Two key-partitioned latest-row windows + one full outer join on
    // the key; fully parallel across keys.
    "q42_snapshot_diff" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = events(s, dir).select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"))
        def latest(df: DataFrame) = {
          val w = Window.partitionBy("user_id")
            .orderBy(desc("ts_us"), desc("event_id"))
          df.withColumn("__rn", row_number().over(w))
            .where(col("__rn") === 1).drop("__rn")
        }
        val oldSnap = latest(ev.where(col("event_id") % 2 === 0))
          .select(col("user_id"), col("event_id").as("old_event_id"))
        val newSnap = latest(ev.where(col("user_id") % 97 =!= 0))
          .select(col("user_id"), col("event_id").as("new_event_id"))
        oldSnap.join(newSnap, Seq("user_id"), "full_outer")
          .select(col("user_id"),
            when(col("old_event_id").isNull, "added")
              .when(col("new_event_id").isNull, "removed")
              .when(col("old_event_id") === col("new_event_id"), "unchanged")
              .otherwise("updated").as("change_type"),
            col("old_event_id"), col("new_event_id"))
          .orderBy("user_id")
      },
      Some(
        """WITH o AS (
          |  SELECT user_id, event_id AS old_event_id FROM (
          |    SELECT user_id, event_id, ROW_NUMBER() OVER (PARTITION BY user_id
          |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
          |    FROM events WHERE event_id % 2 = 0) t WHERE rn = 1),
          |n AS (
          |  SELECT user_id, event_id AS new_event_id FROM (
          |    SELECT user_id, event_id, ROW_NUMBER() OVER (PARTITION BY user_id
          |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
          |    FROM events WHERE user_id % 97 <> 0) t WHERE rn = 1)
          |SELECT COALESCE(o.user_id, n.user_id) AS user_id,
          |  CASE WHEN o.old_event_id IS NULL THEN 'added'
          |       WHEN n.new_event_id IS NULL THEN 'removed'
          |       WHEN o.old_event_id = n.new_event_id THEN 'unchanged'
          |       ELSE 'updated' END AS change_type,
          |  o.old_event_id, n.new_event_id
          |FROM o FULL OUTER JOIN n ON o.user_id = n.user_id
          |ORDER BY user_id""".stripMargin)),

    // ---- gap-filled hourly series (LOCF resampling) ---------------------
    // Regularize each event type's hourly revenue to a dense grid: the
    // grid derives from per-type min/max hour (size = types × calendar
    // span, independent of event volume), missing hours carry the last
    // observed value forward. Hour index stays in integer arithmetic
    // (epoch-micros DIV 3.6e9). The oracle builds the
    // same grid with generate_series and resolves LOCF with a native
    // ASOF join — independent machinery for the same semantics.
    // Null values are filtered BEFORE the hourly aggregate (both sides)
    // so gapFillLocf's no-observed-nulls precondition holds by
    // construction on any fixture: an all-null hour is a GAP, not a
    // null observation (Spark would otherwise back-fill it as is_gap
    // while the ASOF oracle reports a null v — a gate divergence).
    "q46_gap_fill" -> Q(
      (s, dir) => {
        val hourly = events(s, dir)
          .where(col("value").isNotNull)
          .groupBy(col("event_type"), expr("unix_micros(ts) DIV 3600000000").as("h"))
          .agg(sum(col("value").cast(DecimalType(18, 2)))
            .cast(DoubleType).as("v"))
        graft.operators.TimeSeries.gapFillLocf(hourly, "event_type", "h", "v")
          .select("event_type", "h", "v", "is_gap")
          .orderBy("event_type", "h")
      },
      Some(
        """WITH hourly AS (
          |  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
          |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
          |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
          |bounds AS (SELECT event_type, min(h) AS mn, max(h) AS mx
          |           FROM hourly GROUP BY 1),
          |grid AS (SELECT event_type, unnest(generate_series(mn, mx)) AS h
          |         FROM bounds)
          |SELECT g.event_type, g.h, a.v AS v, (e.h IS NULL) AS is_gap
          |FROM grid g
          |ASOF LEFT JOIN hourly a
          |  ON g.event_type = a.event_type AND g.h >= a.h
          |LEFT JOIN hourly e
          |  ON e.event_type = g.event_type AND e.h = g.h
          |ORDER BY g.event_type, g.h""".stripMargin)),

    // ---- materialized-view routing (automatic aggregate rewrite) -------
    // Closes the IVM loop q41/q59 opened: q41 shows how a stored
    // aggregate absorbs a delta; this shows a USER QUERY being routed to
    // the stored aggregate by MaterializedViewRule — the naive
    // groupBy-over-base-scan is rewritten by Catalyst into a scan of the
    // |groups|-row view table (at 100 TB: the whole point). The
    // `served_from_mv` boolean is read from the OPTIMIZED plan and is
    // hash-gated, so the rewrite actually firing is load-bearing, not
    // decorative; value correctness is the usual oracle compare (the
    // routed answer must equal the direct aggregate DuckDB computes).
    // Fallback soundness (stale base, distinct/filter shapes, disabled
    // flag) is law-pinned in MaterializedViewSpec. The routing flag
    // lives on a CHILD session (mvSession) so the shared bench/verify
    // session never optimizes any OTHER query with routing armed. The
    // first call builds the view; a later call over an unchanged base
    // reuses it (MaterializedView.create's reuse rule).
    "q63_mv_rewrite" -> Q(
      (s, dir) => {
        import graft.operators.MaterializedView
        import graft.operators.MaterializedView.MvAgg
        val sess = mvSession(s)
        val base = s"$dir/events.parquet"
        val mvPath =
          s"target/mv/events_by_type_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
        MaterializedView.create(sess, "events_by_type", base,
          groupCols = Seq("event_type"),
          aggs = Seq(
            MvAgg("count_star", outCol = "n_events"),
            MvAgg("sum", "value", Some("decimal(18,6)"), outCol = "sv")),
          mvPath = mvPath)
        val q = graft.Lake.read(sess, base)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast(DecimalType(18, 6))).as("sv"))
        q.select(col("event_type"), col("n_events"),
            col("sv").cast(DoubleType).as("total_value"),
            lit(servedFromMv(q, base)).as("served_from_mv"))
          .orderBy("event_type")
      },
      Some(
        """SELECT event_type, count(*) AS n_events,
          |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
          |  true AS served_from_mv
          |FROM events
          |GROUP BY event_type ORDER BY event_type""".stripMargin),
      headline = true),

    // ---- avg served from stored partials --------------------------------
    // The most common rollup aggregate a user writes: AVG over the view's
    // (sum, count) pair. The rule substitutes the stored partials into
    // Average's OWN evaluateExpression, so the routed value is computed by
    // exactly the arithmetic (decimal promotion, null-on-empty division)
    // the direct plan would run — bit-exact, hash-gated here plus the
    // routed≡direct law in MaterializedViewSpec. The decimal cast keeps
    // the sum exact and order-independent (the engine's double-sum
    // discipline), so Spark's and DuckDB's independently-computed
    // averages agree at round-6.
    "q67_mv_avg" -> Q(
      (s, dir) => {
        import graft.operators.MaterializedView
        import graft.operators.MaterializedView.MvAgg
        val sess = mvSession(s)
        val base = s"$dir/events.parquet"
        val mvPath =
          s"target/mv/events_avg_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
        MaterializedView.create(sess, "events_avg", base,
          groupCols = Seq("event_type"),
          aggs = Seq(
            MvAgg("count", "value", outCol = "n_vals"),
            MvAgg("count", "value", Some("decimal(18,6)"), outCol = "n_vals_dec"),
            MvAgg("sum", "value", Some("decimal(18,6)"), outCol = "sv")),
          mvPath = mvPath)
        val q = graft.Lake.read(sess, base)
          .groupBy("event_type")
          .agg(count(col("value")).as("n_vals"),
            avg(col("value").cast(DecimalType(18, 6))).as("avg_dec"))
        q.select(col("event_type"), col("n_vals"),
            round(col("avg_dec").cast(DoubleType), 6).as("avg_value"),
            lit(servedFromMv(q, base)).as("served_from_mv"))
          .orderBy("event_type")
      },
      Some(
        """SELECT event_type, count(value) AS n_vals,
          |  round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
          |        / COUNT(value), 6) AS avg_value,
          |  true AS served_from_mv
          |FROM events
          |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ---- time-bucketed MV routing (expression grouping) ----------------
    // The classic hourly rollup, served automatically: the view declares
    // a derived grouping dimension (`date_trunc('hour', ts)`), and the
    // rule matches the query's grouping EXPRESSION against the resolved
    // template — through the optimizer's PullOutGroupingExpressions
    // projection — so a q19-shaped rollup reads the |type×hour|-row view
    // instead of the event log. Same hash-gated `served_from_mv` boolean
    // as q63; bucket-width mismatches (a finer or coarser rollup) are
    // spec-pinned to stand down in MaterializedViewSpec.
    "q65_mv_hourly" -> Q(
      (s, dir) => {
        import graft.operators.MaterializedView
        import graft.operators.MaterializedView.{MvAgg, MvGroupExpr}
        val sess = mvSession(s)
        val base = s"$dir/events.parquet"
        val mvPath =
          s"target/mv/events_hourly_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
        MaterializedView.create(sess, "events_hourly", base,
          groupCols = Seq("event_type"),
          aggs = Seq(
            MvAgg("count_star", outCol = "n_events"),
            MvAgg("sum", "value", Some("decimal(18,6)"), outCol = "sv")),
          mvPath = mvPath,
          groupExprs = Seq(MvGroupExpr("h", "date_trunc('hour', ts)")))
        val q = graft.Lake.read(sess, base)
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast(DecimalType(18, 6))).as("sv"))
        q.select(col("event_type"), unix_micros(col("h")).as("hour_us"),
            col("n_events"), col("sv").cast(DoubleType).as("total_value"),
            lit(servedFromMv(q, base)).as("served_from_mv"))
          .orderBy("event_type", "hour_us")
      },
      Some(
        """SELECT event_type, epoch_us(date_trunc('hour', ts)) AS hour_us,
          |  count(*) AS n_events,
          |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
          |  true AS served_from_mv
          |FROM events GROUP BY 1, 2
          |ORDER BY event_type, hour_us""".stripMargin)),

    // ---- join-backed MV routing (the star rollup served) ---------------
    // The q04 shape as a VIEW: orders ⋈ customer on custkey, grouped by
    // market segment. A user writing the naive fact-⋈-dim aggregate —
    // in either join orientation — reads the |segments|-row view
    // instead of joining the fact table; freshness covers BOTH inputs
    // (a dimension update invalidates the rollup, spec-pinned), and
    // absorb is refused with a pointer to the q59 delta algebra.
    "q66_mv_join" -> Q(
      (s, dir) => {
        import graft.operators.MaterializedView
        import graft.operators.MaterializedView.{MvAgg, MvJoin}
        val sess = mvSession(s)
        val fact = s"$dir/orders.parquet"
        val dimP = s"$dir/customer.parquet"
        val mvPath =
          s"target/mv/orders_by_segment_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
        MaterializedView.create(sess, "orders_by_segment", fact,
          groupCols = Seq("c_mktsegment"),
          aggs = Seq(
            MvAgg("count_star", outCol = "n_orders"),
            MvAgg("sum", "o_totalprice", Some("decimal(18,2)"),
              outCol = "revenue")),
          mvPath = mvPath,
          joins = Seq(MvJoin(dimP, Seq("o_custkey"), Seq("c_custkey"))))
        val o = graft.Lake.read(sess, fact); val c = graft.Lake.read(sess, dimP)
        val q = o.join(c, o("o_custkey") === c("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast(DecimalType(18, 2))).as("revenue"))
        q.select(col("c_mktsegment"), col("n_orders"),
            col("revenue").cast(DoubleType).as("revenue"),
            lit(servedFromMv(q, fact, dimP)).as("served_from_mv"))
          .orderBy("c_mktsegment")
      },
      Some(
        """SELECT c_mktsegment, count(*) AS n_orders,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS revenue,
          |  true AS served_from_mv
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // ---- 3-table star rollup served (N-ary chain matching) -------------
    // The TPC-H-shaped lineitem ⋈ orders ⋈ customer revenue rollup as a
    // VIEW: the rule matches the query's whole inner-equi-join TREE by
    // input-path set + unordered key-pair set, so ANY association order
    // or orientation of the same star routes to the |segments|-row
    // table. Absorb folds a lineitem (fact) delta through the dimension
    // chain at |Δ| cost (spec-pinned absorb ≡ refresh law); a changed
    // dimension parks routing until refresh.
    "q68_mv_star3" -> Q(
      (s, dir) => {
        import graft.operators.MaterializedView
        import graft.operators.MaterializedView.{MvAgg, MvJoin}
        val sess = mvSession(s)
        val factP = s"$dir/lineitem.parquet"
        val ordP = s"$dir/orders.parquet"
        val custP = s"$dir/customer.parquet"
        val mvPath =
          s"target/mv/rev_by_segment_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
        MaterializedView.create(sess, "rev_by_segment", factP,
          groupCols = Seq("c_mktsegment"),
          aggs = Seq(
            MvAgg("count_star", outCol = "n_items"),
            MvAgg("sum", "l_extendedprice", Some("decimal(18,2)"),
              outCol = "revenue")),
          mvPath = mvPath,
          joins = Seq(
            MvJoin(ordP, Seq("l_orderkey"), Seq("o_orderkey")),
            MvJoin(custP, Seq("o_custkey"), Seq("c_custkey"))))
        val l = graft.Lake.read(sess, factP)
        val o = graft.Lake.read(sess, ordP)
        val c = graft.Lake.read(sess, custP)
        val q = l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_extendedprice").cast(DecimalType(18, 2)))
              .as("revenue"))
        q.select(col("c_mktsegment"), col("n_items"),
            col("revenue").cast(DoubleType).as("revenue"),
            lit(servedFromMv(q, factP, ordP, custP)).as("served_from_mv"))
          .orderBy("c_mktsegment")
      },
      Some(
        """SELECT c_mktsegment, count(*) AS n_items,
          |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
          |    AS revenue,
          |  true AS served_from_mv
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    // ---- rollup routing (coarser grouping served by re-aggregation) ----
    // The Calcite-style MV rewrite the exact matcher can't do: the query
    // groups by a PROPER SUBSET of the view's dimensions (here: per-type
    // totals from the type×hour rollup), so the rule re-aggregates the
    // |type×hour|-row view — counts/sums re-sum, avg divides the
    // re-summed (sum, count) pair through Average's own arithmetic —
    // instead of scanning the event log. At 100 TB every coarsening of
    // one stored rollup is served from the same tiny table. Exactness
    // (decimal re-widening cast discipline, avg bit-parity) is law-pinned
    // in MaterializedViewSpec; this gates it end-to-end vs DuckDB.
    "q69_mv_rollup" -> Q(
      (s, dir) => {
        import graft.operators.MaterializedView
        import graft.operators.MaterializedView.{MvAgg, MvGroupExpr}
        val sess = mvSession(s)
        val base = s"$dir/events.parquet"
        val mvPath =
          s"target/mv/events_rollup_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
        MaterializedView.create(sess, "events_rollup", base,
          groupCols = Seq("event_type"),
          aggs = Seq(
            MvAgg("count_star", outCol = "n_events"),
            MvAgg("count", "value", Some("decimal(18,6)"), outCol = "n_vals_dec"),
            MvAgg("sum", "value", Some("decimal(18,6)"), outCol = "sv")),
          mvPath = mvPath,
          groupExprs = Seq(MvGroupExpr("h", "date_trunc('hour', ts)")))
        val q = graft.Lake.read(sess, base)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            avg(col("value").cast(DecimalType(18, 6))).as("avg_dec"),
            sum(col("value").cast(DecimalType(18, 6))).as("sv"))
        q.select(col("event_type"), col("n_events"),
            round(col("avg_dec").cast(DoubleType), 6).as("avg_value"),
            col("sv").cast(DoubleType).as("total_value"),
            lit(servedFromMv(q, base)).as("served_from_mv"))
          .orderBy("event_type")
      },
      Some(
        """SELECT event_type, count(*) AS n_events,
          |  round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
          |        / COUNT(value), 6) AS avg_value,
          |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
          |  true AS served_from_mv
          |FROM events
          |GROUP BY event_type ORDER BY event_type""".stripMargin),
      headline = true),
    // ---- time-grain coarsening (daily served from the hourly view) -----
    // The rollup hierarchy's second axis: the query asks for DAILY
    // buckets, the view stores HOURLY ones — hour nests into day, so
    // the rule re-truncates the stored bucket (`date_trunc('day', h)`)
    // and re-aggregates, still reading the |type×hour|-row table. Unit
    // nesting is validated (week never serves month/year; finer-than-
    // stored stands down) — law-pinned in MaterializedViewSpec.
    "q70_mv_timegrain" -> Q(
      (s, dir) => {
        import graft.operators.MaterializedView
        import graft.operators.MaterializedView.{MvAgg, MvGroupExpr}
        val sess = mvSession(s)
        val base = s"$dir/events.parquet"
        val mvPath =
          s"target/mv/events_grain_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
        MaterializedView.create(sess, "events_grain", base,
          groupCols = Seq("event_type"),
          aggs = Seq(
            MvAgg("count_star", outCol = "n_events"),
            MvAgg("sum", "value", Some("decimal(18,6)"), outCol = "sv")),
          mvPath = mvPath,
          groupExprs = Seq(MvGroupExpr("h", "date_trunc('hour', ts)")))
        val q = graft.Lake.read(sess, base)
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("d"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast(DecimalType(18, 6))).as("sv"))
        q.select(col("event_type"), unix_micros(col("d")).as("day_us"),
            col("n_events"), col("sv").cast(DoubleType).as("total_value"),
            lit(servedFromMv(q, base)).as("served_from_mv"))
          .orderBy("event_type", "day_us")
      },
      Some(
        """SELECT event_type, epoch_us(date_trunc('day', ts)) AS day_us,
          |  count(*) AS n_events,
          |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
          |  true AS served_from_mv
          |FROM events GROUP BY 1, 2
          |ORDER BY event_type, day_us""".stripMargin)),
    // ---- sketch-backed MV (distinct-count rollups served) --------------
    // COUNT DISTINCT is the canonical aggregate a rollup CANNOT store
    // (per-day distinct users don't sum to monthly distinct users). The
    // view stores a mergeable HLL sketch per (type, day); the rule
    // serves the per-type distinct-user query by RE-UNIONING the stored
    // sketches — register-max merge, schedule-independent (the q49 law
    // as a rewrite), deduplicating users across the rolled-up days. The
    // q49 gate pattern: DuckDB pins the exact counts; the engine-side
    // booleans pin that the ROUTED estimate equals the direct sketch
    // computation exactly and lands within the error bound of truth —
    // and served_from_mv pins that the rewrite actually fired.
    "q71_mv_sketch" -> Q(
      (s, dir) => {
        import graft.operators.MaterializedView
        import graft.operators.MaterializedView.{MvAgg, MvGroupExpr}
        val sess = mvSession(s)
        val base = s"$dir/events.parquet"
        val mvPath =
          s"target/mv/events_sketch_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
        MaterializedView.create(sess, "events_sketch", base,
          groupCols = Seq("event_type"),
          aggs = Seq(
            MvAgg("count_star", outCol = "n_events"),
            MvAgg("hll_sketch", "user_id", outCol = "uhll", lgK = Some(14))),
          mvPath = mvPath,
          groupExprs = Seq(MvGroupExpr("d", "date_trunc('day', ts)")))
        def sketchQ(ss: SparkSession) = graft.Lake.read(ss, base)
          .groupBy("event_type")
          .agg(hll_sketch_estimate(
            hll_sketch_agg(col("user_id"), lit(14))).as("est"))
        val routed = sketchQ(sess)
        val mvServed = servedFromMv(routed, base)
        val directEst = sketchQ(s) // main session: routing never enabled
          .withColumnRenamed("est", "direct_est")
        val exact = graft.Lake.read(s, base).groupBy("event_type")
          .agg(count_distinct(col("user_id")).as("n_exact"))
        routed.join(directEst, Seq("event_type"))
          .join(exact, Seq("event_type"))
          .select(col("event_type"), col("n_exact"),
            (col("est") === col("direct_est")).as("routed_matches_direct"),
            (abs(col("est") - col("n_exact")) <= col("n_exact") * 0.02)
              .as("err_within_2pct"),
            lit(mvServed).as("served_from_mv"))
          .orderBy("event_type")
      },
      Some(
        """SELECT event_type,
          |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
          |  TRUE AS routed_matches_direct,
          |  TRUE AS err_within_2pct,
          |  TRUE AS served_from_mv
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // ---- materialized-view ADVISOR (workload → view recommendation) ----
    // The planning half of the MV story: given a workload of aggregate
    // queries, extract each one's servable shape, cluster by input,
    // union dimensions and aggregates into ONE definition (rollup
    // routing serves every subset/coarser grouping from it), and score
    // with exact counts. The gate feeds the recommendation straight
    // back into create() and pins that the whole workload then routes —
    // advice that didn't serve its own workload would flip
    // served_from_mv. DuckDB independently recomputes the scoring
    // (distinct dimension tuples vs base rows).
    "q73_mv_advise" -> Q(
      (s, dir) => {
        import graft.operators.MaterializedView
        val sess = mvSession(s)
        val base = s"$dir/events.parquet"
        val mvPath =
          s"target/mv/events_advised_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
        def w1 = graft.Lake.read(sess, base).groupBy("event_type")
          .agg(sum(col("value").cast(DecimalType(18, 6))).as("sv"))
        def w2 = graft.Lake.read(sess, base)
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("n"),
            avg(col("value").cast(DecimalType(18, 6))).as("m"))
        def w3 = graft.Lake.read(sess, base).agg(count(lit(1)).as("n"))
        val advice = MaterializedView.advise(sess, Seq(w1, w2, w3))
        require(advice.size == 1, s"expected one advice, got $advice")
        val a = advice.head
        MaterializedView.create(sess, "events_advised", a.basePath,
          a.groupCols, a.aggs, mvPath, a.groupExprs, a.joins)
        val served = Seq(w1, w2, w3).forall(servedFromMv(_, base))
        sess.range(1).select(
          lit("events").as("base_table"),
          lit((a.groupCols ++ a.groupExprs.map(_.name)).mkString(","))
            .as("dims"),
          lit(a.aggs.size).as("n_aggs"),
          lit(a.nQueries).as("n_queries"),
          lit(a.viewRows).as("view_rows"),
          lit(a.baseRows).as("base_rows"),
          lit(served).as("served_from_mv"))
      },
      Some(
        """SELECT 'events' AS base_table,
          |  'event_type,ts_hour' AS dims,
          |  3 AS n_aggs, 3 AS n_queries,
          |  (SELECT count(*) FROM
          |    (SELECT DISTINCT event_type, date_trunc('hour', ts)
          |     FROM events)) AS view_rows,
          |  (SELECT count(*) FROM events) AS base_rows,
          |  TRUE AS served_from_mv""".stripMargin)),

    // ---- MV serving path (steady-state routed read) ---------------------
    // q63's twin over its own view root, kept under target/mv/serve_*
    // across processes (the s19/q64 serve-split convention applied to
    // the MV family): `create` reuses the committed generation while the
    // base is unchanged, so a new process registers it without a
    // rebuild. Same hash-gated served_from_mv + oracle compare.
    "q74_mv_serve" -> Q(
      (s, dir) => {
        import graft.operators.MaterializedView
        import graft.operators.MaterializedView.MvAgg
        val sess = mvSession(s)
        val base = s"$dir/events.parquet"
        val mvPath =
          s"target/mv/serve_by_type_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
        MaterializedView.create(sess, "serve_by_type", base,
          groupCols = Seq("event_type"),
          aggs = Seq(
            MvAgg("count_star", outCol = "n_events"),
            MvAgg("sum", "value", Some("decimal(18,6)"), outCol = "sv")),
          mvPath = mvPath)
        val q = graft.Lake.read(sess, base)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast(DecimalType(18, 6))).as("sv"))
        q.select(col("event_type"), col("n_events"),
            col("sv").cast(DoubleType).as("total_value"),
            lit(servedFromMv(q, base)).as("served_from_mv"))
          .orderBy("event_type")
      },
      Some(
        """SELECT event_type, count(*) AS n_events,
          |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
          |  true AS served_from_mv
          |FROM events
          |GROUP BY event_type ORDER BY event_type""".stripMargin),
      headline = true),

    // ---- KLL quantile views (percentile rollups served) -----------------
    // The sketch trio's last MV member: per-(type, day) KLL sketches
    // stored as view state, per-type p50/p95 served by MERGING them —
    // the dashboard percentile query over a 100 TB log becomes a
    // |type×day|-row read. k is sized so the fixture stays below the
    // compaction bound (q52's exact-mode convention), making the served
    // quantiles exact order statistics; the gate is q52-shaped — DuckDB
    // pins the exact counts, booleans pin the measured rank of each
    // served quantile, and served_from_mv pins the rewrite firing.
    // The rank band is the sketch's OWN configured guarantee, not an
    // exact-mode artifact: lower bound 0.5−2·eps (eps =
    // KllSketch.getNormalizedRankError(k), ~9.3e-5 at k=32768), so the
    // gate passes within the configured rank error at ANY scale —
    // beyond the compaction bound (sf>=1, ~200k values/type) the
    // estimate's measured rank drifts by ~1·eps and stays inside the
    // band, making this a true within-RSE gate rather than a sweep-time
    // excuse. Exact mode keeps r50 >= 0.5 by the quantile convention,
    // so driver-SF hashes are unchanged.
    "q75_mv_kll" -> Q(
      (s, dir) => {
        import graft.operators.MaterializedView
        import graft.operators.MaterializedView.{MvAgg, MvGroupExpr}
        import graft.plans.KllSketchExprs._
        val sess = mvSession(s)
        val base = s"$dir/events.parquet"
        val mvPath =
          s"target/mv/events_kll_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
        MaterializedView.create(sess, "events_kll", base,
          groupCols = Seq("event_type"),
          aggs = Seq(
            MvAgg("count", "value", outCol = "n_vals"),
            MvAgg("kll", "value", outCol = "vkll", lgK = Some(32768))),
          mvPath = mvPath,
          groupExprs = Seq(MvGroupExpr("d", "date_trunc('day', ts)")))
        val q = graft.Lake.read(sess, base).groupBy("event_type")
          .agg(count(col("value")).as("n_vals"),
            kllQuantile(kllAgg(col("value"), 32768), lit(0.5)).as("p50"),
            kllQuantile(kllAgg(col("value"), 32768), lit(0.95)).as("p95"))
        val served = servedFromMv(q, base)
        val ev = graft.Lake.read(sess, base).where(col("value").isNotNull)
          .select(col("event_type"), col("value"))
        // the configured rank-error band (2x the sketch's one-sided
        // normalized rank error at the gate's k)
        val kllEps = 2 * org.apache.datasketches.kll.KllSketch
          .getNormalizedRankError(32768, false)
        ev.join(q, Seq("event_type"))
          .groupBy("event_type")
          .agg(max(col("n_vals")).as("n_vals"),
            (sum(when(col("value") <= col("p50"), 1L)).cast("double")
              / max(col("n_vals"))).as("r50"),
            (sum(when(col("value") <= col("p95"), 1L)).cast("double")
              / max(col("n_vals"))).as("r95"))
          .select(col("event_type"), col("n_vals"),
            (col("r50") >= 0.5 - kllEps && col("r50") <= 0.5 + 0.03)
              .as("p50_rank_ok"),
            (col("r95") >= 0.95 - kllEps && col("r95") <= 0.95 + 0.03)
              .as("p95_rank_ok"),
            lit(served).as("served_from_mv"))
          .orderBy("event_type")
      },
      Some(
        """SELECT event_type, CAST(count(value) AS BIGINT) AS n_vals,
          |  TRUE AS p50_rank_ok, TRUE AS p95_rank_ok,
          |  TRUE AS served_from_mv
          |FROM events
          |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ---- advisor over a STAR workload (chain reconstruction gated) -----
    // q73 advises a single-base workload; this gates the join half: two
    // orders⋈customer rollups cluster into ONE star recommendation —
    // the ordered MvJoin chain rebuilt from the queries' unordered key
    // pairs — which create() then turns into the view that serves both.
    // DuckDB recomputes the scoring over the joined frame.
    "q76_mv_advise_star" -> Q(
      (s, dir) => {
        import graft.operators.MaterializedView
        val sess = mvSession(s)
        val fact = s"$dir/orders.parquet"
        val dimP = s"$dir/customer.parquet"
        val mvPath =
          s"target/mv/advised_star_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
        def star(f: DataFrame => DataFrame): DataFrame = {
          val o = graft.Lake.read(sess, fact); val c = graft.Lake.read(sess, dimP)
          f(o.join(c, o("o_custkey") === c("c_custkey")))
        }
        def w1 = star(_.groupBy("c_mktsegment")
          .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)))
            .as("revenue")))
        def w2 = star(_.agg(count(lit(1)).as("n")))
        val advice = MaterializedView.advise(sess, Seq(w1, w2))
        require(advice.size == 1, s"expected one star advice, got $advice")
        val a = advice.head
        MaterializedView.create(sess, "advised_star", a.basePath,
          a.groupCols, a.aggs, mvPath, a.groupExprs, a.joins)
        val served = servedFromMv(w1, fact, dimP) &&
          servedFromMv(w2, fact, dimP)
        sess.range(1).select(
          lit("orders").as("base_table"),
          lit(a.joins.size).as("n_joins"),
          lit(a.joins.head.leftKeys.mkString(",")).as("left_keys"),
          lit(a.joins.head.rightKeys.mkString(",")).as("right_keys"),
          lit(a.groupCols.mkString(",")).as("dims"),
          lit(a.aggs.size).as("n_aggs"),
          lit(a.nQueries).as("n_queries"),
          lit(a.viewRows).as("view_rows"),
          lit(a.baseRows).as("base_rows"),
          lit(served).as("served_from_mv"))
      },
      Some(
        """SELECT 'orders' AS base_table, 1 AS n_joins,
          |  'o_custkey' AS left_keys, 'c_custkey' AS right_keys,
          |  'c_mktsegment' AS dims, 2 AS n_aggs, 2 AS n_queries,
          |  (SELECT count(DISTINCT c_mktsegment)
          |   FROM orders JOIN customer ON o_custkey = c_custkey)
          |    AS view_rows,
          |  (SELECT count(*)
          |   FROM orders JOIN customer ON o_custkey = c_custkey)
          |    AS base_rows,
          |  TRUE AS served_from_mv""".stripMargin)),

    // ---- BUDGETED advisor (ranked multi-view selection, q80) -----------
    // The capacity-planning half: a 4-query workload spanning THREE
    // clusters (events ×2 queries, an orders⋈customer star, lineitem),
    // ranked by benefit = nQueries·(baseRows−viewRows) — the scan rows
    // routing saves per workload pass — and admitted in rank order
    // while the cumulative stored size fits an 8-row budget
    // (prefix-budget selection: deliberately NOT knapsack-with-skips,
    // see adviseBudgeted's scaladoc). Every score, rank, and selected
    // flag is recomputed independently by DuckDB from the same exact
    // counts; creating the rank-1 pick then pins that its whole
    // cluster routes (top_served). Advisor cost: one counting
    // aggregate per cluster — never a view build per candidate.
    "q80_mv_advise_budget" -> Q(
      (s, dir) => {
        import graft.operators.MaterializedView
        val sess = mvSession(s)
        val evBase = s"$dir/events.parquet"
        val liBase = s"$dir/lineitem.parquet"
        val oBase = s"$dir/orders.parquet"
        val cBase = s"$dir/customer.parquet"
        val mvPath =
          s"target/mv/advised_budget_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
        def w1 = graft.Lake.read(sess, evBase).groupBy("event_type")
          .agg(sum(col("value").cast(DecimalType(18, 6))).as("sv"))
        def w2 = graft.Lake.read(sess, evBase).agg(count(lit(1)).as("n"))
        def w3 = {
          val o = graft.Lake.read(sess, oBase)
          val c = graft.Lake.read(sess, cBase)
          o.join(c, o("o_custkey") === c("c_custkey"))
            .groupBy("c_mktsegment")
            .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .as("revenue"))
        }
        def w4 = graft.Lake.read(sess, liBase).groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"))
        val ranked = MaterializedView.adviseBudgeted(
          sess, Seq(w1, w2, w3, w4), budgetRows = 8L)
        require(ranked.size == 3, s"expected three clusters, got $ranked")
        val top = ranked.head.advice
        MaterializedView.create(sess, "advised_budget_top", top.basePath,
          top.groupCols, top.aggs, mvPath, top.groupExprs, top.joins)
        val clusterQueries: Seq[DataFrame] =
          if (top.basePath.endsWith("lineitem.parquet")) Seq(w4)
          else if (top.basePath.endsWith("orders.parquet")) Seq(w3)
          else Seq(w1, w2)
        val topServed = clusterQueries.forall(
          servedFromMv(_, top.basePath +: top.joins.map(_.rightPath): _*))
        val rows = ranked.map { r =>
          (new java.io.File(r.advice.basePath).getName
             .stripSuffix(".parquet"),
           r.advice.nQueries, r.advice.viewRows, r.advice.baseRows,
           r.benefit, r.rank, r.selected, topServed)
        }
        sess.createDataFrame(rows)
          .toDF("base_table", "n_queries", "view_rows", "base_rows",
            "benefit", "rank", "selected", "top_served")
          .orderBy("rank")
      },
      Some(
        """WITH s AS (
          |  SELECT 'events' AS base_table, 2 AS n_queries,
          |    (SELECT count(DISTINCT event_type) FROM events) AS view_rows,
          |    (SELECT count(*) FROM events) AS base_rows
          |  UNION ALL
          |  SELECT 'orders', 1,
          |    (SELECT count(DISTINCT c_mktsegment)
          |     FROM orders JOIN customer ON o_custkey = c_custkey),
          |    (SELECT count(*)
          |     FROM orders JOIN customer ON o_custkey = c_custkey)
          |  UNION ALL
          |  SELECT 'lineitem', 1,
          |    (SELECT count(DISTINCT l_returnflag) FROM lineitem),
          |    (SELECT count(*) FROM lineitem)),
          |r AS (
          |  SELECT *, n_queries * (base_rows - view_rows) AS benefit,
          |    ROW_NUMBER() OVER (
          |      ORDER BY n_queries * (base_rows - view_rows) DESC,
          |        base_table) AS rnk
          |  FROM s)
          |SELECT base_table, n_queries,
          |  CAST(view_rows AS BIGINT) AS view_rows,
          |  CAST(base_rows AS BIGINT) AS base_rows,
          |  CAST(benefit AS BIGINT) AS benefit,
          |  CAST(rnk AS INT) AS rank,
          |  SUM(view_rows) OVER (ORDER BY rnk) <= 8 AS selected,
          |  TRUE AS top_served
          |FROM r ORDER BY rnk""".stripMargin)),
  )

  /** MV queries run on a CHILD session (`newSession()`: its own SQLConf,
    * shared SparkContext/extensions/catalog) with routing enabled THERE
    * only — the process-wide session the bench/verify harness shares
    * never optimizes any other query with routing armed, even though the
    * views stay registered in the process-wide MV catalog. One child per
    * parent session, made on first use and kept while the parent lives:
    * a fresh session compiles its generated code anew (q63 with a child
    * per call: 10 codegen compiles per warm call at sf0.001; with the
    * kept child: 0). The GraftSession rule confs reach the child through
    * the shared SparkConf, as for any `newSession()`. */
  private[graft] def mvSession(s: SparkSession): SparkSession =
    mvChildren.synchronized {
      mvChildren.getOrElseUpdate(s, {
        val child = s.newSession()
        child.conf.set(graft.plans.MaterializedViewRule.ConfKey, "true")
        child
      })
    }

  /** The routing-armed child of each live parent session; weak keys, so
    * a stopped-and-dropped parent does not pin its child. */
  private val mvChildren =
    scala.collection.mutable.WeakHashMap.empty[SparkSession, SparkSession]

  /** Does the optimized plan read a MATERIALIZED-VIEW table instead of
    * any of the query's base inputs? Forced at build time and emitted
    * as the hash-gated `served_from_mv` literal, so the rewrite firing
    * is load-bearing in the correctness gate. Several registered views
    * can legally serve one shape (the rule picks the smallest stored
    * table, name-tiebroken) — the gated claim is "the rewrite fired and
    * the base was never scanned", not that one specific view won a
    * size tie against an equivalent twin. */
  private def servedFromMv(df: DataFrame, basePaths: String*): Boolean = {
    val leaves = df.queryExecution.optimizedPlan.collectLeaves()
    def reads(path: String): Boolean = leaves.exists {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.exists(_.toString.contains(path))
          case _ => false
        }
      case _ => false
    }
    !basePaths.exists(reads) && reads("target/mv/")
  }
}
