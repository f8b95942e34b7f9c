package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Lake

/** Remaining engine-surface inventory: the JSON source (reference S1,
  * `etl.py:35-36,77-78`), exact distinct-counting, and the SQL-text
  * interface (`spark.sql` over registered views) — including a query whose
  * Spark-side SQL string IS the oracle string, token for token. */
object SurfaceQueries {

  /** Explicit schema for the JSON round trip (inference would be an extra
    * full scan — SURVEY.md §1). */
  private val docJsonSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** One SQL text, two engines (TPC-H Q4 shape; dialect-neutral). */
  private val sharedSql =
    """SELECT o_orderpriority, COUNT(*) AS n_orders
      |FROM orders
      |WHERE o_orderdate >= '1998-01-01' AND o_orderdate < '1999-01-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // scalar correlated subquery (decorrelated to agg+join by Catalyst) +
  // correlated IN; integer-exact outputs so the hash compare is stable
  private val correlatedSql =
    """SELECT o_orderkey,
      |  CAST((SELECT COUNT(*) FROM lineitem
      |        WHERE l_orderkey = o_orderkey) AS BIGINT) AS n_items,
      |  CAST((SELECT MAX(l_linenumber) FROM lineitem
      |        WHERE l_orderkey = o_orderkey) AS BIGINT) AS max_line
      |FROM orders
      |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
      |ORDER BY o_orderkey""".stripMargin

  // EXISTS decorrelates to a semi join, NOT EXISTS to an anti join; one
  // string runs on both engines.
  private val existsSql =
    """SELECT c_custkey, c_mktsegment FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderstatus = 'F' AND o.o_totalprice < 50000)
      |ORDER BY c_custkey""".stripMargin

  val defs: Map[String, Q] = Map(

    // ---- EXISTS / NOT EXISTS correlated predicates ---------------------
    "q32_exists" -> Q(
      (s, dir) => { Lake(s, dir).registerViews(); s.sql(existsSql) },
      existsSql),

    // ---- struct construction + field access + JSON serialization -------
    // The struct itself must NOT cross the dump boundary (the driver's
    // comparator row-sorts with pandas, and nested cells are unhashable
    // there — CORRECTNESS_r04), so the compared columns are the struct
    // serialized via to_json (field order = construction order) plus a
    // field access — both scalar. ignoreNullFields is pinned OFF: the
    // default silently DROPS null fields from the JSON, so a single null
    // lang in a future fixture would flip the gate; with it off a null
    // field renders as `"lang":null`, which the oracle's CASE mirrors
    // (RegistrySpec pins the null rendering on a synthetic row).
    "q33_struct_funcs" -> Q(
      (s, dir) => Lake(s, dir).documents
        .select(col("doc_id"),
          to_json(struct(col("lang"), col("n_chars")),
            Map("ignoreNullFields" -> "false")).as("meta_json"),
          struct(col("lang"), col("n_chars")).getField("lang").as("meta_lang"))
        .orderBy("doc_id"),
      Some(
        """SELECT doc_id,
          |  '{"lang":' ||
          |    CASE WHEN lang IS NULL THEN 'null' ELSE '"' || lang || '"' END ||
          |  ',"n_chars":' ||
          |    CASE WHEN n_chars IS NULL THEN 'null' ELSE n_chars::VARCHAR END ||
          |  '}' AS meta_json,
          |  lang AS meta_lang
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- S1: JSON sink + source scan with explicit schema --------------
    // Writes the documents table as JSON and reads it back — exercising
    // the reference's ingestion format on the engine's own sink/source
    // pair; the oracle reads the original Parquet (round trip must be
    // lossless for these types).
    "q21_json_roundtrip" -> Q(
      (s, dir) => {
        val stage = s"target/json_stage/documents_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
        Lake(s, dir).documents.write.mode("overwrite").json(stage)
        s.read.schema(docJsonSchema).json(stage)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
          .orderBy("lang")
      },
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    // ---- CSV sink + source (schema'd read, no inference scan) ----------
    "q27_csv_roundtrip" -> Q(
      (s, dir) => {
        val stage = s"target/csv_stage/lineitem_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
        Lake(s, dir).lineitem
          .select("l_orderkey", "l_returnflag", "l_quantity")
          .write.mode("overwrite").option("header", "true").csv(stage)
        s.read
          .schema(StructType(Seq(
            StructField("l_orderkey", LongType),
            StructField("l_returnflag", StringType),
            StructField("l_quantity", DoubleType))))
          .option("header", "true").csv(stage)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("qty"))
          .orderBy("l_returnflag")
      },
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // ---- ORC sink + source (the third columnar format in the matrix) ---
    // Roundtrip must be lossless: the oracle reads the ORIGINAL parquet.
    "q29_orc_roundtrip" -> Q(
      (s, dir) => {
        val stage = s"target/orc_stage/docs_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
        Lake(s, dir).documents
          .select("doc_id", "lang", "n_chars", "text")
          .write.mode("overwrite").orc(stage)
        s.read.orc(stage)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            sum(length(col("text")).cast(LongType)).as("text_chars"))
          .orderBy("lang")
      },
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(SUM(length(text)) AS BIGINT) AS text_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    // ---- Hive-partitioned write + partition-pruned read -----------------
    // The lake's layout contract end to end: stage orders partitioned by
    // priority (5 dirs), read back through a partition filter — Spark
    // prunes at the DIRECTORY level (PartitionFilters in the scan, no
    // row-level read of the other partitions; PruningSpec pins the plan
    // shape incl. the dynamic join-driven variant). The oracle replays
    // the same filter on the original table: a roundtrip that dropped or
    // duplicated a partition's rows fails the hash gate.
    "q47_partitioned_roundtrip" -> Q(
      (s, dir) => {
        val stage = s"target/part_stage/orders_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
        Lake(s, dir).orders
          .write.mode("overwrite").partitionBy("o_orderpriority").parquet(stage)
        graft.Lake.read(s, stage)
          .where(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
          .groupBy("o_orderpriority", "o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("total"))
          .orderBy("o_orderpriority", "o_orderstatus")
      },
      """SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ---- versioned snapshots: pinned vs latest reads through the gate --
    // Time travel end to end: rebuild a two-version snapshot history
    // (v1 = pre-backfill subset, v2 = full backfill), read v1 PINNED and
    // the LATEST, and aggregate both in one conditional pass. The root
    // is wiped first so the query is idempotent under bench reps and
    // repeated sweeps (writeSnapshotVersion never rewrites history by
    // design — the wipe is the test fixture's job, not the operator's).
    // The oracle recomputes both sides from the original table: a read
    // that served the wrong version fails the hash gate.
    "q48_time_travel" -> Q(
      (s, dir) => {
        import graft.operators.LakeMaintenance
        val root = s"target/snap_stage/orders_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
        val p = new org.apache.hadoop.fs.Path(root)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
        val orders = Lake(s, dir).orders.select("o_orderkey", "o_totalprice")
        LakeMaintenance.writeSnapshotVersion(
          orders.where(col("o_orderkey") % 4 =!= 0), root) // v1: pre-backfill
        LakeMaintenance.writeSnapshotVersion(orders, root) // v2: backfilled
        val v1 = LakeMaintenance.readSnapshotVersion(s, root, 1L)
          .withColumn("v", lit("v1"))
        val latest = LakeMaintenance.readSnapshotVersion(s, root)
          .withColumn("v", lit("latest"))
        v1.unionByName(latest).agg(
          sum(when(col("v") === "v1", 1L).otherwise(0L)).as("v1_n"),
          sum(when(col("v") === "v1",
            col("o_totalprice").cast(DecimalType(18, 2))))
            .cast(DoubleType).as("v1_total"),
          sum(when(col("v") === "latest", 1L).otherwise(0L)).as("latest_n"),
          sum(when(col("v") === "latest",
            col("o_totalprice").cast(DecimalType(18, 2))))
            .cast(DoubleType).as("latest_total"))
      },
      """SELECT
        |  CAST(SUM(CASE WHEN o_orderkey % 4 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS v1_n,
        |  CAST(SUM(CASE WHEN o_orderkey % 4 <> 0
        |       THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS v1_total,
        |  CAST(COUNT(*) AS BIGINT) AS latest_n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS latest_total
        |FROM orders""".stripMargin),

    // ---- mergeable HLL distinct sketches (incremental distinct IVM) -----
    // COUNT(DISTINCT) is the one aggregate plain IVM cannot merge; the
    // sketch path makes it algebraic (operators/Sketches). The gate runs
    // the same per-day partials through TWO merge schedules inside one
    // plan — one-shot union across all days vs staged union (halves,
    // then the pair) — and asserts (a) the estimates agree EXACTLY
    // (register max-merge is associative, so the incremental answer is
    // independent of the merge schedule — the IVM property) and (b) the
    // estimate is within ~3σ ≈ 5% of the exact count at lgK=12. DuckDB
    // recomputes the exact count; the booleans pin the sketch claims,
    // since no other engine reproduces DataSketches estimates
    // bit-for-bit. (A never-unioned stream sketch is deliberately NOT
    // compared exactly: it uses the HIP estimator, unions the composite
    // one — they agree only within the error bound; SketchSpec covers
    // that relation.)
    "q49_hll_incremental" -> Q(
      (s, dir) => {
        import graft.operators.Sketches
        // the day id only SLICES the incremental build (it never reaches
        // the output), so integer epoch-micros div is all we need — no
        // timestamp semantics, no oracle coupling
        val ev = Lake(s, dir).events
          .select(col("event_type"), col("user_id"),
            expr("unix_micros(ts) div 86400000000").as("day"))
        val daily = Sketches.sketchBy(ev, Seq("event_type", "day"), "user_id")
        val oneShot = Sketches
          .withEstimate(Sketches.rollup(daily, Seq("event_type")))
          .select(col("event_type"), col("distinct_est"))
        val halves = Sketches.rollup(
          daily.withColumn("half", pmod(col("day"), lit(2))),
          Seq("event_type", "half"))
        val staged = Sketches
          .withEstimate(Sketches.rollup(halves, Seq("event_type")))
          .select(col("event_type"), col("distinct_est").as("staged_est"))
        val exact = ev.groupBy("event_type")
          .agg(count_distinct(col("user_id")).as("n_exact"))
        oneShot.join(staged, Seq("event_type"))
          .join(exact, Seq("event_type"))
          .select(col("event_type"), col("n_exact"),
            (col("distinct_est") === col("staged_est"))
              .as("incremental_matches_direct"),
            (abs(col("distinct_est") - col("n_exact"))
              <= col("n_exact") * 0.05).as("err_within_5pct"))
          .orderBy("event_type")
      },
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
        |       TRUE AS incremental_matches_direct, TRUE AS err_within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
      headline = true),

    // ---- order-independent dataset content fingerprint ------------------
    // Run-to-run reproducibility check: same rows in any order, any
    // partitioning → same fingerprint (sum of 48-bit md5 row hashes mod
    // 2^60, decimal-exact). DuckDB rebuilds the identical hash from the
    // same md5 hex digits, so the gate is exact — unlike a sketch, a
    // single changed byte flips the value.
    "q50_dataset_fingerprint" -> Q(
      (s, dir) => {
        import graft.operators.LakeMaintenance
        LakeMaintenance.datasetFingerprint(
            Lake(s, dir).documents, Seq("source"), Seq("doc_id", "text"))
          .orderBy("source")
      },
      """WITH h AS (
        |  SELECT source,
        |    CAST(list_sum([(strpos('0123456789abcdef',
        |        substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), i, 1)) - 1)
        |        * pow(16, 12 - i) for i in generate_series(1, 12)]) AS HUGEINT)
        |      AS rh
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(rh) % 1152921504606846976 AS BIGINT) AS fingerprint
        |FROM h GROUP BY source ORDER BY source""".stripMargin),

    // ---- theta-sketch segment algebra -----------------------------------
    // "How many users did BOTH A and B" from sketch state alone — the
    // set-algebra question HLL union cannot answer (Spark's theta_*
    // aggregates and scalar set ops). All four outputs are estimates
    // READ OFF SKETCHES, never from rows; the DuckDB oracle recomputes
    // the true counts, and the gate is exact because every per-type
    // user set here is below the 2^12 nominal-entries threshold where a
    // theta sketch retains every distinct hash (the exactness contract
    // — ThetaSpec covers estimation mode). The pair join is
    // |event_types|² over a
    // broadcast 1-row-per-type aggregate — bounded, never data-sized.
    "q51_theta_segments" -> Q(
      (s, dir) => {
        val sk = Lake(s, dir).events
          .groupBy("event_type")
          .agg(theta_sketch_agg(col("user_id")).as("sk"))
        val a = sk.select(col("event_type").as("type_a"), col("sk").as("ska"))
        val b = sk.select(col("event_type").as("type_b"), col("sk").as("skb"))
        a.join(broadcast(b), col("type_a") < col("type_b"))
          .select(col("type_a"), col("type_b"),
            theta_sketch_estimate(col("ska")).as("n_a"),
            theta_sketch_estimate(col("skb")).as("n_b"),
            theta_sketch_estimate(theta_intersection(col("ska"), col("skb")))
              .as("n_both"),
            theta_sketch_estimate(theta_difference(col("ska"), col("skb")))
              .as("n_a_only"))
          .orderBy("type_a", "type_b")
      },
      """WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
        |cnt AS (SELECT event_type, count(*) AS n FROM u GROUP BY event_type),
        |pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |                 a.n AS n_a, b.n AS n_b
        |          FROM cnt a JOIN cnt b ON a.event_type < b.event_type),
        |ov AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
        |              count(*) AS nb
        |       FROM u x JOIN u y USING (user_id)
        |       WHERE x.event_type < y.event_type GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b, CAST(p.n_a AS BIGINT) AS n_a,
        |  CAST(p.n_b AS BIGINT) AS n_b,
        |  CAST(COALESCE(ov.nb, 0) AS BIGINT) AS n_both,
        |  CAST(p.n_a - COALESCE(ov.nb, 0) AS BIGINT) AS n_a_only
        |FROM pairs p LEFT JOIN ov USING (type_a, type_b)
        |ORDER BY type_a, type_b""".stripMargin),

    // ---- KLL quantile sketch distributions ------------------------------
    // Mergeable percentiles (Spark's kll_sketch_* family): per-type value
    // distributions as sketch state. KLL compaction is RANDOMIZED, so
    // the gate checks what the sketch guarantees — the rank error of its
    // p50/p95 answers, recomputed exactly from the rows (inclusive
    // rank within 0.035, ~2× the k=200 a-priori bound) — rather than a
    // byte-stable value no randomized sketch can promise. DuckDB
    // recounts n_vals exactly and pins the booleans true.
    "q52_kll_latency" -> Q(
      (s, dir) => {
        import graft.operators.Sketches.kllQuantile
        val ev = Lake(s, dir).events.where(col("value").isNotNull)
          .select(col("event_type"), col("value"))
        val sk = ev.groupBy("event_type").agg(
            kll_sketch_agg_double(col("value")).as("sk"),
            count(lit(1)).as("n_vals"))
          .select(col("event_type"), col("n_vals"),
            kllQuantile(col("sk"), lit(0.5)).as("p50"),
            kllQuantile(col("sk"), lit(0.95)).as("p95"))
        ev.join(sk, Seq("event_type"))
          .groupBy("event_type")
          .agg(max(col("n_vals")).as("n_vals"),
            (sum(when(col("value") <= col("p50"), 1L)).cast("double")
              / max(col("n_vals"))).as("r50"),
            (sum(when(col("value") <= col("p95"), 1L)).cast("double")
              / max(col("n_vals"))).as("r95"))
          .select(col("event_type"), col("n_vals"),
            (abs(col("r50") - 0.5) <= 0.035).as("p50_rank_ok"),
            (abs(col("r95") - 0.95) <= 0.035).as("p95_rank_ok"))
          .orderBy("event_type")
      },
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_vals,
        |  TRUE AS p50_rank_ok, TRUE AS p95_rank_ok
        |FROM events WHERE value IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
      headline = true),

    // ---- KLL distribution drift detection -------------------------------
    // The data-drift monitor of a production pipeline, from sketch state
    // alone: split each type's values into two cohorts (even/odd
    // event_id — a deterministic A/A split of this stationary fixture),
    // sketch both, and take the max rank discrepancy of cohort B at
    // cohort A's deciles — a sketch-space Kolmogorov–Smirnov statistic.
    // Two same-source cohorts must sit within sketch error + the
    // KS-scaled sampling noise, 0.035 + 1.95·sqrt(1/n_a + 1/n_b) (the
    // n-dependence matters: an A/A split of 100-row cohorts legitimately
    // wanders ~0.2); a drifted cohort would not. Counts are exact and
    // oracled; the drift verdict is the boolean the sketch semantics
    // guarantee. Composition this enables at 100 TB: cohort sketches are
    // the PERSISTED per-day tables — drift checks replay over history
    // without touching rows.
    "q53_drift_detection" -> Q(
      (s, dir) => {
        import graft.operators.Sketches.{kllQuantile, kllRank}
        val ev = Lake(s, dir).events.where(col("value").isNotNull)
          .select(col("event_type"), col("value"),
            (pmod(col("event_id"), lit(2)) === 0).as("cohort_a"))
        val sk = ev.groupBy("event_type").agg(
          kll_sketch_agg_double(when(col("cohort_a"), col("value"))).as("ska"),
          kll_sketch_agg_double(when(!col("cohort_a"), col("value"))).as("skb"),
          sum(when(col("cohort_a"), 1L).otherwise(0L)).as("n_a"),
          sum(when(!col("cohort_a"), 1L).otherwise(0L)).as("n_b"))
        val drift = (1 to 9).map { d =>
          val q = d / 10.0
          abs(kllRank(col("skb"), kllQuantile(col("ska"), lit(q))) - lit(q))
        }.reduce((a, b) => greatest(a, b))
        val tol = lit(0.035) + lit(1.95) *
          sqrt(lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))
        sk.select(col("event_type"), col("n_a"), col("n_b"),
            (drift <= tol).as("no_drift"))
          .orderBy("event_type")
      },
      """SELECT event_type,
        |  CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_a,
        |  CAST(sum(CASE WHEN event_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_b,
        |  TRUE AS no_drift
        |FROM events WHERE value IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ---- theta-sketch retention matrix ----------------------------------
    // The product-analytics retention triangle ("of day-D actives, how
    // many returned on day D+k") served ENTIRELY from per-day sketch
    // state: one sketch per day, every (day, offset) cell a sketch
    // intersection — no row ever re-read. This is q36_retention's
    // question re-answered the way a 100 TB deployment would: the 30
    // per-day sketches are what you'd persist (q49's playbook), and the
    // whole matrix is |days|·maxOffset scalar set-ops on a broadcast
    // 1-row-per-day aggregate — day count, not data size. The gate is
    // exact by the theta exactness contract: max per-day
    // distinct users is 1,356 at sf0.1, below the 2^12 nominal-entries
    // threshold, so sketches and their intersections are exact integers.
    "q54_theta_retention" -> Q(
      (s, dir) => {
        val daily = Lake(s, dir).events
          .select(expr("unix_micros(ts) DIV 86400000000").as("day"),
            col("user_id"))
          .groupBy("day")
          .agg(theta_sketch_agg(col("user_id")).as("sk"))
        val a = daily.select(col("day").as("day_0"), col("sk").as("ska"))
        val b = daily.select(col("day").as("day_k"), col("sk").as("skb"))
        a.join(broadcast(b),
            col("day_k") - col("day_0") >= 1 &&
              col("day_k") - col("day_0") <= 7)
          .select(col("day_0"),
            (col("day_k") - col("day_0")).cast("int").as("offset_days"),
            theta_sketch_estimate(col("ska")).as("n_day0"),
            theta_sketch_estimate(theta_intersection(col("ska"), col("skb")))
              .as("n_retained"))
          .orderBy("day_0", "offset_days")
      },
      """WITH e AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day,
        |                           user_id FROM events),
        |cnt AS (SELECT day, count(*) AS n FROM e GROUP BY day),
        |pairs AS (SELECT a.day AS day_0, b.day AS day_k, a.n AS n_day0
        |          FROM cnt a JOIN cnt b
        |            ON b.day - a.day BETWEEN 1 AND 7),
        |ov AS (SELECT x.day AS day_0, y.day AS day_k, count(*) AS nr
        |       FROM e x JOIN e y USING (user_id)
        |       WHERE y.day - x.day BETWEEN 1 AND 7 GROUP BY 1, 2)
        |SELECT p.day_0, CAST(p.day_k - p.day_0 AS INTEGER) AS offset_days,
        |  CAST(p.n_day0 AS BIGINT) AS n_day0,
        |  CAST(COALESCE(ov.nr, 0) AS BIGINT) AS n_retained
        |FROM pairs p LEFT JOIN ov
        |  ON ov.day_0 = p.day_0 AND ov.day_k = p.day_k
        |ORDER BY p.day_0, offset_days""".stripMargin),

    // ---- sketch-served rolling actives (DAU / trailing-7-day WAU) -------
    // q54's sliding-window counterpart: the same persisted per-day user
    // sketches, composed with UNION instead of intersect — each day's
    // trailing-7-day active count is one theta_union_agg over ≤7 sketch
    // rows, so the whole DAU/WAU series costs |days|·7 sketch merges and
    // never re-reads a row. The window self-join is broadcast and
    // calendar-bounded (same audit class as q54); windows at the start
    // of history are clipped to the data on both sides identically.
    // Exactness: the 7-day unions peak at the total user count (1,500 at
    // sf0.1) < 2^12, so every estimate is an exact integer.
    "q55_rolling_actives" -> Q(
      (s, dir) => {
        val daily = Lake(s, dir).events
          .select(expr("unix_micros(ts) DIV 86400000000").as("day"),
            col("user_id"))
          .groupBy("day")
          .agg(theta_sketch_agg(col("user_id")).as("sk"))
        val w = daily.select(col("day").as("day_w"), col("sk").as("skw"))
        daily.select(col("day"))
          .join(broadcast(w),
            col("day_w") >= col("day") - 6 && col("day_w") <= col("day"))
          .groupBy("day")
          .agg(
            theta_sketch_estimate(theta_union_agg(
              when(col("day_w") === col("day"), col("skw")))).as("dau"),
            theta_sketch_estimate(theta_union_agg(col("skw"))).as("wau"))
          .orderBy("day")
      },
      """WITH e AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day,
        |                           user_id FROM events),
        |days AS (SELECT DISTINCT day FROM e),
        |dau AS (SELECT day, count(*) AS n FROM e GROUP BY day)
        |SELECT d.day, CAST(dau.n AS BIGINT) AS dau,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS wau
        |FROM days d
        |JOIN e ON e.day BETWEEN d.day - 6 AND d.day
        |JOIN dau ON dau.day = d.day
        |GROUP BY d.day, dau.n ORDER BY d.day""".stripMargin),

    // ---- sketch-served rolling quantiles --------------------------------
    // q55's trick applied to DISTRIBUTIONS: per-day KLL sketches of
    // event value, merged over a trailing-7-day calendar window
    // (kll_merge_agg_double over the same broadcast day-pair join), read at
    // p95. At 100 TB the per-day sketch table is what you persist; the
    // whole rolling series costs |days|·7 sketch merges. KLL compaction
    // is randomized, so the gate checks the q52 guarantee: the EXACT
    // rank of the sketch's answer within the true window rows, within
    // 0.035 (2× the k=200 a-priori bound) — recomputed by re-joining
    // the rows to their windows (an events×7 map, linear). Window
    // counts are exact and oracled; DuckDB pins the boolean true.
    "q57_rolling_p95" -> Q(
      (s, dir) => {
        import graft.operators.Sketches.kllQuantile
        val ev = Lake(s, dir).events.where(col("value").isNotNull)
          .select(expr("unix_micros(ts) DIV 86400000000").as("day"),
            col("value"))
        val daily =
          ev.groupBy("day").agg(kll_sketch_agg_double(col("value")).as("sk"))
        val w = daily.select(col("day").as("day_w"), col("sk").as("skw"))
        val rolled = daily.select(col("day"))
          .join(broadcast(w),
            col("day_w") >= col("day") - 6 && col("day_w") <= col("day"))
          .groupBy("day")
          .agg(kllQuantile(kll_merge_agg_double(col("skw"), 200), lit(0.95))
            .as("p95"))
        // exact-rank audit of the sketch answer over the true window
        val wd = rolled.select(col("day").as("day_c"), col("p95"))
        ev.join(broadcast(wd),
            col("day") >= col("day_c") - 6 && col("day") <= col("day_c"))
          .groupBy(col("day_c").as("day"))
          .agg(count(lit(1)).as("n_7d"),
            (sum(when(col("value") <= col("p95"), 1L)).cast("double")
              / count(lit(1))).as("r95"))
          .select(col("day"), col("n_7d"),
            (abs(col("r95") - 0.95) <= 0.035).as("p95_rank_ok"))
          .orderBy("day")
      },
      """WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day, value
        |           FROM events WHERE value IS NOT NULL),
        |days AS (SELECT DISTINCT day FROM e)
        |SELECT d.day, CAST(count(*) AS BIGINT) AS n_7d,
        |  TRUE AS p95_rank_ok
        |FROM days d JOIN e ON e.day BETWEEN d.day - 6 AND d.day
        |GROUP BY d.day ORDER BY d.day""".stripMargin),

    // ---- frequency-sketch heavy hitters ---------------------------------
    // Per-source top-5 tokens read off Misra–Gries frequency-sketch
    // state (Spark's approx_top_k_accumulate via Sketches.freqSketchAgg)
    // — the fourth mergeable summary (HLL count / theta algebra / KLL
    // quantiles / here: WHICH items dominate). The gate is exact by the
    // counter contract: each source's distinct-token count (31
    // repo-wide) sits far under the 192 items tracked, so no purge ever
    // fires and every estimate is the exact count, deterministic under
    // any partitioning; the (count DESC, item ASC) read order is total,
    // so so is the output.
    "q56_freq_topk" -> Q(
      (s, dir) => {
        import graft.operators.Sketches.{freqSketchAgg, freqTopItems}
        Lake(s, dir).documents
          .select(col("source"),
            explode(split(lower(trim(col("text"))), "\\s+")).as("t"))
          .groupBy("source")
          .agg(freqSketchAgg(col("t")).as("sk"))
          .select(col("source"),
            posexplode(freqTopItems(col("sk"), 5)))
          .select(col("source"), (col("pos") + 1).as("rnk"),
            col("col.item").as("token"), col("col.count").as("cnt"))
          .orderBy("source", "rnk")
      },
      """WITH tc AS (
        |  SELECT source, w, count(*) AS cnt FROM (
        |    SELECT source,
        |      unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        |    FROM documents)
        |  GROUP BY 1, 2),
        |r AS (SELECT source, w, cnt,
        |        row_number() OVER (PARTITION BY source
        |                           ORDER BY cnt DESC, w) AS rnk
        |      FROM tc)
        |SELECT source, CAST(rnk AS INTEGER) AS rnk, w AS token,
        |  CAST(cnt AS BIGINT) AS cnt
        |FROM r WHERE rnk <= 5 ORDER BY source, rnk""".stripMargin),

    // ---- array scalar functions over tokenized text ---------------------
    "q28_array_funcs" -> Q(
      (s, dir) => {
        val toks = split(lower(trim(col("text"))), "\\s+")
        Lake(s, dir).documents.select(
          col("doc_id"),
          concat_ws(" ", slice(sort_array(toks), 1, 3)).as("first3_sorted"),
          array_contains(toks, "spark").as("has_spark"),
          element_at(toks, 3).as("third_token"),
          size(array_distinct(toks)).as("n_unique"))
          .orderBy("doc_id")
      },
      """SELECT doc_id,
        |  array_to_string(list_sort(string_split_regex(lower(trim(text)), '\s+'))[1:3], ' ')
        |    AS first3_sorted,
        |  list_contains(string_split_regex(lower(trim(text)), '\s+'), 'spark')
        |    AS has_spark,
        |  string_split_regex(lower(trim(text)), '\s+')[3] AS third_token,
        |  CAST(len(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) AS INTEGER)
        |    AS n_unique
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ---- exact distinct counting (COUNT DISTINCT expand) ---------------
    "q22_distinct_counts" -> Q(
      (s, dir) => Lake(s, dir).lineitem
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("distinct_parts"),
          countDistinct(col("l_suppkey")).as("distinct_supps"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag"),
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS distinct_parts,
        |  COUNT(DISTINCT l_suppkey) AS distinct_supps,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // ---- HLL sketch distinct counting with an in-plan accuracy gate ----
    // approx_count_distinct (HyperLogLog++) is the sketch a 100 TB
    // distinct-count actually runs (one pass, fixed memory, no expand);
    // its estimate is engine-specific, so the COMPARED columns are the
    // exact count plus a boolean asserting the sketch landed within 5x
    // its configured 2% relative standard deviation — the s4 gate
    // pattern for non-portable-but-bounded results.
    "q22c_sketch_distinct" -> Q(
      (s, dir) => Lake(s, dir).lineitem
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("exact_parts"),
          approx_count_distinct(col("l_partkey"), 0.02).as("apx"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("apx") - col("exact_parts")).cast(DoubleType)
            / col("exact_parts") <= 0.1).as("hll_ok"))
        .orderBy("l_returnflag"),
      Some(
        """SELECT l_returnflag,
          |  COUNT(DISTINCT l_partkey) AS exact_parts, true AS hll_ok
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ---- approximate quantile sketch with an in-plan accuracy gate -----
    // approx_percentile's rank error is n/accuracy; at accuracy=1000 the
    // median estimate must sit within 5% of the exact integer-cents
    // median for these distributions — asserted in-plan, like q22c.
    "q25b_approx_quantiles" -> Q(
      (s, dir) => Lake(s, dir).lineitem
        .withColumn("cents", round(col("l_extendedprice") * 100).cast(LongType))
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          expr("percentile(cents, 0.5)").as("exact_med"),
          expr("approx_percentile(cents, 0.5, 1000)").as("apx_med"))
        .select(col("l_returnflag"), col("n"),
          (abs(col("apx_med") - col("exact_med")) / col("exact_med") <= 0.05)
            .as("quantile_ok"))
        .orderBy("l_returnflag"),
      Some(
        """SELECT l_returnflag, COUNT(*) AS n, true AS quantile_ok
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ---- SQL-text interface: the same string runs on both engines ------
    "q23_sql_text" -> Q(
      (s, dir) => { Lake(s, dir).registerViews(); s.sql(sharedSql) },
      sharedSql),

    // ---- correlated subqueries through the SQL surface ------------------
    // Catalyst decorrelates the scalar subquery into an aggregate + join
    // (no per-row re-execution); IN becomes a semi join. Same string runs
    // on the oracle.
    "q23b_correlated" -> Q(
      (s, dir) => { Lake(s, dir).registerViews(); s.sql(correlatedSql) },
      correlatedSql),

    // ---- order-robust statistics: median + moments ----------------------
    // Median on integer cents: halfway interpolation of exact integers is
    // bit-deterministic in both engines (general p is formula-order
    // sensitive). Stddev from exact decimal moments, not the streaming
    // variance aggregate, so partial-aggregation order can't shift bits.
    // The final sqrt((sumsq - sum^2/n)/(n-1)) float combination is still
    // ulp-sensitive across engines (observed 1-ulp divergence at
    // sf0.001 — near-cancellation + FMA-style fusion), so stddev alone
    // is rounded to 4 decimals on both sides: the fixture values sit
    // >= 7e-7 from every rounding boundary while ulp noise is ~4e-12.
    "q25_stats" -> Q(
      (s, dir) => {
        val cents = round(col("l_extendedprice") * 100).cast(LongType)
        val decP = col("l_extendedprice").cast(DecimalType(18, 2))
        Lake(s, dir).lineitem
          .withColumn("cents", cents)
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("n"),
            min(col("l_extendedprice")).as("min_price"),
            max(col("l_extendedprice")).as("max_price"),
            (expr("percentile(cents, 0.5)") / 100.0).as("median_price"),
            sum(decP).cast(DoubleType).as("sum_p"),
            sum(decP * decP).cast(DoubleType).as("sumsq_p"))
          .select(
            col("l_returnflag"), col("n"), col("min_price"), col("max_price"),
            col("median_price"),
            round(sqrt((col("sumsq_p") - col("sum_p") * col("sum_p") / col("n"))
              / (col("n") - 1)), 4).as("stddev_price"))
          .orderBy("l_returnflag")
      },
      Some(
        """SELECT l_returnflag, n, min_price, max_price, median_price,
          |  round(sqrt((sumsq_p - sum_p * sum_p / n) / (n - 1)), 4) AS stddev_price
          |FROM (
          |  SELECT l_returnflag, COUNT(*) AS n,
          |    MIN(l_extendedprice) AS min_price,
          |    MAX(l_extendedprice) AS max_price,
          |    quantile_cont(CAST(round(l_extendedprice * 100) AS BIGINT), 0.5) / 100.0
          |      AS median_price,
          |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_p,
          |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
          |             * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sumsq_p
          |  FROM lineitem GROUP BY l_returnflag) t
          |ORDER BY l_returnflag""".stripMargin)),

    // ---- scalar string-function coverage --------------------------------
    "q26_string_funcs" -> Q(
      (s, dir) => Lake(s, dir).part
        .select(
          col("p_partkey"),
          upper(col("p_brand")).as("ub"),
          substring(col("p_name"), 1, 8).as("prefix"),
          concat_ws("-", col("p_brand"), col("p_type")).as("tag"),
          length(col("p_name")).as("name_len"),
          levenshtein(col("p_brand"), col("p_type")).as("dist"))
        .orderBy("p_partkey"),
      Some(
        """SELECT p_partkey, upper(p_brand) AS ub,
          |  substring(p_name, 1, 8) AS prefix,
          |  concat_ws('-', p_brand, p_type) AS tag,
          |  CAST(length(p_name) AS INTEGER) AS name_len,
          |  CAST(levenshtein(p_brand, p_type) AS INTEGER) AS dist
          |FROM part ORDER BY p_partkey""".stripMargin)),

    // ---- schema evolution: mergeSchema over heterogeneous files --------
    // Two writer generations land in one table directory (v2 adds a
    // column); mergeSchema reconciles the footers and v1 rows read the
    // new column as NULL — the lake-format reality the engine must
    // survive. Oracle replays the same projection from the source table.
    "q31_schema_evolution" -> Q(
      (s, dir) => {
        val stage = s"target/evo_stage/docs_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
        val docs = Lake(s, dir).documents
        docs.where(col("doc_id") % 2 === 0)
          .select("doc_id", "lang")
          .write.mode("overwrite").parquet(s"$stage/gen=1")
        docs.where(col("doc_id") % 2 === 1)
          .select("doc_id", "lang", "n_chars") // v2 writer: extra column
          .write.mode("overwrite").parquet(s"$stage/gen=2")
        s.read.option("mergeSchema", "true").parquet(stage)
          .select("doc_id", "lang", "n_chars")
          .orderBy("doc_id")
      },
      Some(
        """SELECT doc_id, lang,
          |  CASE WHEN doc_id % 2 = 1 THEN n_chars END AS n_chars
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- scalar date-function coverage ----------------------------------
    // Integer/date-exact functions only (months_between's fractional
    // semantics differ across engines and stay out of the compared set).
    "q26b_date_funcs" -> Q(
      (s, dir) => Lake(s, dir).orders
        .select(
          col("o_orderkey"),
          to_date(col("o_orderdate")).as("d"),
          date_add(to_date(col("o_orderdate")), 30).as("due"),
          last_day(col("o_orderdate")).as("month_end"),
          datediff(to_date(lit("2000-01-01")), to_date(col("o_orderdate")))
            .as("days_to_y2k"),
          dayofweek(col("o_orderdate")).as("dow"),
          quarter(col("o_orderdate")).as("qtr"))
        .orderBy("o_orderkey"),
      Some(
        """SELECT o_orderkey,
          |  CAST(o_orderdate AS DATE) AS d,
          |  CAST(o_orderdate AS DATE) + 30 AS due,
          |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
          |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01')
          |       AS INTEGER) AS days_to_y2k,
          |  CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
          |  CAST(quarter(o_orderdate) AS INTEGER) AS qtr
          |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ---- null-safe equality (<=>) ---------------------------------------
    // NULL never equi-joins; the null-safe operator treats NULL as a
    // joinable value — a classic engine-parity trap. Nulls are planted
    // via nullif; the oracle is IS NOT DISTINCT FROM. Catalyst still
    // plans a hash join (EqualNullSafe is a valid equi-key).
    "q30_null_safe_join" -> Q(
      (s, dir) => {
        val li = Lake(s, dir).lineitem
          .select(nullif(col("l_returnflag"), lit("N")).as("flag"),
            col("l_quantity"))
        val dim = Lake(s, dir).lineitem
          .select(nullif(col("l_returnflag"), lit("N")).as("flag"))
          .distinct()
          .withColumn("flag_label", coalesce(col("flag"), lit("unflagged")))
        li.join(dim, li("flag") <=> dim("flag"))
          .groupBy(col("flag_label"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("qty"))
          .orderBy("flag_label")
      },
      Some(
        """WITH li AS (
          |  SELECT nullif(l_returnflag, 'N') AS flag, l_quantity FROM lineitem),
          |dim AS (
          |  SELECT flag, coalesce(flag, 'unflagged') AS flag_label
          |  FROM (SELECT DISTINCT nullif(l_returnflag, 'N') AS flag FROM lineitem))
          |SELECT flag_label, COUNT(*) AS n,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
          |FROM li JOIN dim ON li.flag IS NOT DISTINCT FROM dim.flag
          |GROUP BY flag_label ORDER BY flag_label""".stripMargin)),

    // ---- map construction + element access + JSON serialization --------
    // Same comparator constraint as q33: MAP cells are unhashable in the
    // driver's pandas row sort, so the map is compared as its to_json
    // string (insertion-ordered keys) and element_at covers the access
    // path with a scalar result. ignoreNullFields off + CASE oracle =
    // null values render identically on both engines (see q33).
    "q34_map_funcs" -> Q(
      (s, dir) => Lake(s, dir).documents
        .select(col("doc_id"),
          to_json(map(lit("lang"), col("lang"),
              lit("source"), col("source")),
            Map("ignoreNullFields" -> "false")).as("m_json"),
          element_at(
            map(lit("lang"), col("lang"), lit("source"), col("source")),
            "lang").as("m_lang"))
        .orderBy("doc_id"),
      Some(
        """SELECT doc_id,
          |  '{"lang":' ||
          |    CASE WHEN lang IS NULL THEN 'null' ELSE '"' || lang || '"' END ||
          |  ',"source":' ||
          |    CASE WHEN source IS NULL THEN 'null' ELSE '"' || source || '"' END ||
          |  '}' AS m_json,
          |  lang AS m_lang
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- native expression through the SQL surface ---------------------
    // cosine_similarity is the engine's fused codegen expression,
    // registered via SparkSessionExtensions.injectFunction. The oracle
    // replays the identical double-accumulation cosine (same op order =>
    // bit-equal, as s1/s3 establish), so the SQL-surface wiring itself is
    // hash-gated.
    "q24_sql_cosine" -> Q(
      (s, dir) => {
        Lake(s, dir).registerViews()
        s.sql(
          """SELECT a.vec_id AS id_a, b.vec_id AS id_b
            |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            |WHERE cosine_similarity(a.embedding, b.embedding) >= 0.4
            |ORDER BY id_a, id_b""".stripMargin)
      },
      Some(
        """WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
          |p AS (
          |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |    list_sum([a.v[i]::DOUBLE * b.v[i]::DOUBLE
          |              for i in generate_series(1, len(a.v))]) /
          |    (sqrt(list_sum([a.v[i]::DOUBLE * a.v[i]::DOUBLE
          |                    for i in generate_series(1, len(a.v))])) *
          |     sqrt(list_sum([b.v[i]::DOUBLE * b.v[i]::DOUBLE
          |                    for i in generate_series(1, len(b.v))]))) AS sim
          |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
          |SELECT id_a, id_b FROM p WHERE sim >= 0.4
          |ORDER BY id_a, id_b""".stripMargin)),

    // ---- small-file compaction planning --------------------------------
    // The metadata half of OPTIMIZE: the documents table plays the file
    // manifest (doc_id = file, n_chars = bytes, source = table
    // partition) and the planner assigns files to rewrite bins by the
    // streaming running-sum rule (bin = exclusive-prefix-bytes DIV
    // target). Output is the per-bin task list — bounded by the manifest,
    // not the data; the per-partition window runs over file METADATA.
    "q39_compaction_bins" -> Q(
      (s, dir) => graft.operators.LakeMaintenance
        .compactionBins(Lake(s, dir).documents,
          partCol = "source", orderCol = "doc_id",
          bytesCol = "n_chars", targetBytes = 4096L)
        .groupBy("source", "bin")
        .agg(count(lit(1)).as("n_files"),
          sum(col("n_chars")).as("bin_bytes"),
          min(col("doc_id")).as("first_file"),
          max(col("doc_id")).as("last_file"))
        .orderBy("source", "bin"),
      Some(
        """WITH c AS (
          |  SELECT source, doc_id, n_chars,
          |    COALESCE(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
          |  FROM documents),
          |b AS (SELECT source, doc_id, n_chars, cum // 4096 AS bin FROM c)
          |SELECT source, CAST(bin AS BIGINT) AS bin, count(*) AS n_files,
          |  CAST(sum(n_chars) AS BIGINT) AS bin_bytes,
          |  min(doc_id) AS first_file, max(doc_id) AS last_file
          |FROM b GROUP BY 1, 2 ORDER BY source, bin""".stripMargin)),

    // ---- zone-map statistics + predicate prunability -------------------
    // The write-side stats a data-skipping reader consumes (the ANALYZE /
    // zone-map half of LakeMaintenance.clusterBy): per-shard min/max on
    // the filter columns, plus the prune verdict for a concrete range
    // predicate (shipdate in calendar-1994) — a shard is skippable iff
    // its [min,max] envelope misses the predicate range. One partial+
    // final aggregate; output rows = shard count, independent of data
    // volume.
    "q40_zone_maps" -> Q(
      (s, dir) => Lake(s, dir).lineitem
        .withColumn("shard", expr("l_orderkey DIV 3000"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_shipdate")).as("min_ship"),
          max(col("l_shipdate")).as("max_ship"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"))
        .withColumn("prunable",
          col("max_ship") < lit("1994-01-01").cast(TimestampNTZType) ||
            col("min_ship") >= lit("1995-01-01").cast(TimestampNTZType))
        // NTZ output convention (q03's note): value-preserving under the
        // UTC session, keeps the dumped type naive for the oracle compare
        .withColumn("min_ship", col("min_ship").cast(TimestampNTZType))
        .withColumn("max_ship", col("max_ship").cast(TimestampNTZType))
        .orderBy("shard"),
      Some(
        """SELECT l_orderkey // 3000 AS shard, count(*) AS n_rows,
          |  min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship,
          |  min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
          |  (max(l_shipdate) < TIMESTAMP '1994-01-01'
          |   OR min(l_shipdate) >= TIMESTAMP '1995-01-01') AS prunable
          |FROM lineitem GROUP BY 1 ORDER BY shard""".stripMargin)),

    // ---- manifest-driven data skipping (zone-map pruned scan) ----------
    // The READ half of q40's zone maps: lineitem re-clustered by order
    // key into 16 files + a persisted per-file min/max manifest; the
    // range scan consults the manifest and opens only intersecting
    // files, then re-applies the exact predicate (zones are bounding
    // boxes). The oracle runs the plain range filter on the original
    // table — a manifest that skipped a file it needed, or double-read
    // one, shifts a count or sum and fails the hash gate. File-skipping
    // itself (kept << total) is pinned in LakeMaintenanceSpec.
    "q60_zonemap_scan" -> Q(
      (s, dir) => {
        import graft.operators.ZoneMapTable
        // cwd-relative (matches Bench and the specs): the query suite
        // must not pin one checkout location. Wiped per run, like s14:
        // the gate rebuilds from scratch, and a fresh dir keeps the
        // timed work identical run to run
        val stage = s"target/zm_stage/lineitem_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stage))
        ZoneMapTable.write(Lake(s, dir).lineitem, stage,
          clusterCol = "l_orderkey", statsCols = Seq("l_orderkey"), files = 16)
        ZoneMapTable.prunedRead(s, stage, "l_orderkey", lit(200L), lit(900L))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("qty"))
          .orderBy("l_returnflag")
      },
      """SELECT l_returnflag, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem WHERE l_orderkey BETWEEN 200 AND 900
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      headline = true),

    // ---- zone-map serving path (steady-state pruned read) --------------
    // q60 gates the full lifecycle (cluster + footer-stats manifest +
    // pruned read) and therefore times a table build per bench rep; this
    // is the complementary steady-state signal — build once if absent,
    // then range-read through the committed manifest — so the headline
    // bench tracks skip-scan latency separately from build cost (the
    // s14/s19 split applied to the lake side). Same oracle: pruning is
    // exact, so the served aggregate must equal the direct predicate.
    "q64_zonemap_serve" -> Q(
      (s, dir) => {
        import graft.operators.ZoneMapTable
        val stage = s"target/zm_stage/serve_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
        if (!ZoneMapTable.isBuilt(s, stage))
          ZoneMapTable.write(Lake(s, dir).lineitem, stage,
            clusterCol = "l_orderkey", statsCols = Seq("l_orderkey"),
            files = 16)
        ZoneMapTable.prunedRead(s, stage, "l_orderkey", lit(200L), lit(900L))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("qty"))
          .orderBy("l_returnflag")
      },
      """SELECT l_returnflag, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem WHERE l_orderkey BETWEEN 200 AND 900
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      headline = true),

    // ---- z-ordered multi-column skipping (conjunctive pruned read) ------
    // The read half of zOrderBy: lineitem z-ordered across
    // (l_orderkey, l_partkey) gives every file locality in BOTH
    // dimensions, so a conjunctive range filter intersects the
    // per-column zones and multiplies the skip rates — where a linear
    // clustering only ever skips on its leading column. Serve-path
    // convention (build once if absent, like q64); the oracle replays
    // the plain conjunction, so a zone that skipped a needed file or
    // double-opened one shifts the aggregate and fails the hash gate.
    // Per-dimension skip counts are law-pinned in LakeMaintenanceSpec.
    "q72_zonemap_zorder" -> Q(
      (s, dir) => {
        import graft.operators.ZoneMapTable
        val stage = s"target/zm_stage/zorder_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
        if (!ZoneMapTable.isBuilt(s, stage))
          ZoneMapTable.writeZOrdered(Lake(s, dir).lineitem, stage,
            Seq("l_orderkey", "l_partkey"),
            Seq("l_orderkey", "l_partkey"), files = 16)
        ZoneMapTable.prunedReadMulti(s, stage, Seq(
            ("l_orderkey", lit(200L), lit(900L)),
            ("l_partkey", lit(20L), lit(120L))))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("qty"))
          .orderBy("l_returnflag")
      },
      """SELECT l_returnflag, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 200 AND 900
        |  AND l_partkey BETWEEN 20 AND 120
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      headline = true),

    // ---- zone maps × time travel (versioned zone-mapped table) ---------
    // Two committed versions (v1 = even order keys, v2 = the full
    // table); the query range-reads BOTH the pinned v1 and the latest
    // through their own per-version manifests. The oracle replays each
    // version's defining filter over the source table, so a pinned read
    // bleeding rows from the other version, or a manifest skipping a
    // needed file, shifts a count or a sum and fails the hash gate.
    // Commit-marker atomicity (torn versions invisible) is spec-pinned
    // in LakeMaintenanceSpec.
    "q62_zonemap_travel" -> Q(
      (s, dir) => {
        import graft.operators.ZoneMapTable
        val stage = s"target/zmv_stage/lineitem_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stage))
        val li = Lake(s, dir).lineitem
        ZoneMapTable.writeVersion(li.where(col("l_orderkey") % 2 === 0),
          stage, "l_orderkey", Seq("l_orderkey"), files = 8)
        ZoneMapTable.writeVersion(li, stage, "l_orderkey",
          Seq("l_orderkey"), files = 8)
        def slice(pin: String, version: Long) =
          ZoneMapTable.prunedReadVersion(s, stage, "l_orderkey",
              lit(200L), lit(900L), version)
            .agg(count(lit(1)).as("n"),
              sum(col("l_quantity").cast(DecimalType(18, 2)))
                .cast(DoubleType).as("qty"))
            .select(lit(pin).as("pin"), col("n"), col("qty"))
        slice("v1_even", 1L).unionByName(slice("v2_latest", -1L))
          .orderBy("pin")
      },
      Some(
        """SELECT 'v1_even' AS pin, CAST(count(*) AS BIGINT) AS n,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
          |FROM lineitem
          |WHERE l_orderkey % 2 = 0 AND l_orderkey BETWEEN 200 AND 900
          |UNION ALL
          |SELECT 'v2_latest', CAST(count(*) AS BIGINT),
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
          |FROM lineitem WHERE l_orderkey BETWEEN 200 AND 900
          |ORDER BY pin""".stripMargin)),

    // ---- shuffle-skew diagnostics (the salt-factor advisor) ------------
    // The pre-flight a big join/groupBy runs before picking a skew
    // strategy: per-key frequency profile of the shuffle key — key
    // count, max/mean load, the skew ratio that decides whether to salt
    // (SkewJoin) or lean on AQE, and the top-5 heavy hitters. Two
    // partial+final aggregates and a global top-5 limit; 1-row output at
    // any scale. All ratios are integer-quotient doubles (exact both
    // engines).
    "q43_skew_stats" -> Q(
      (s, dir) => {
        val cnts = Lake(s, dir).orders
          .groupBy("o_custkey").agg(count(lit(1)).as("c"))
        val hitters = cnts.orderBy(desc("c"), asc("o_custkey")).limit(5)
          // order inside the aggregate is pinned by array_sort on
          // (-count, key), not by collect_list encounter order
          .agg(array_join(transform(
            array_sort(collect_list(struct((-col("c")).as("nc"),
              col("o_custkey").as("k"),
              concat_ws(":", col("o_custkey"), col("c")).as("h")))),
            _.getField("h")), ",").as("top_hitters"))
        cnts.agg(
          count(lit(1)).as("n_keys"),
          sum(col("c")).as("n_rows"),
          max(col("c")).as("max_cnt"))
          .select(col("n_keys"), col("n_rows"), col("max_cnt"),
            (col("max_cnt").cast(DoubleType) * col("n_keys")
              / col("n_rows")).as("skew_ratio"))
          .crossJoin(hitters)
      },
      Some(
        """WITH c AS (
          |  SELECT o_custkey, count(*) AS c FROM orders GROUP BY o_custkey),
          |top5 AS (
          |  SELECT o_custkey, c FROM c ORDER BY c DESC, o_custkey LIMIT 5),
          |hit AS (
          |  SELECT string_agg(o_custkey::VARCHAR || ':' || c::VARCHAR, ','
          |                    ORDER BY c DESC, o_custkey) AS top_hitters
          |  FROM top5)
          |SELECT CAST(count(*) AS BIGINT) AS n_keys,
          |  CAST(sum(c.c) AS BIGINT) AS n_rows,
          |  CAST(max(c.c) AS BIGINT) AS max_cnt,
          |  CAST(max(c.c) AS DOUBLE) * count(*) / sum(c.c) AS skew_ratio,
          |  (SELECT top_hitters FROM hit) AS top_hitters
          |FROM c""".stripMargin)),

    // ---- data-contract audit (constraint validation pass) --------------
    // The pre-ingest gate every lake pipeline runs: referential
    // integrity (orphan fact rows), null keys, domain ranges, and
    // primary-key uniqueness, each as one anti-join or aggregate over
    // the full table — violation COUNTS, bounded output (one row per
    // rule), whatever the data contains. Rules are independent jobs a
    // scheduler can fan out; none collects rows to the driver.
    "q44_data_quality_audit" -> Q(
      (s, dir) => {
        val lake = Lake(s, dir)
        def one(name: String, d: org.apache.spark.sql.DataFrame) =
          d.select(lit(name).as("rule"), col("violations"))
        val orphan = lake.lineitem
          .join(lake.orders, col("l_orderkey") === col("o_orderkey"), "left_anti")
          .agg(count(lit(1)).as("violations"))
        val nullKey = lake.orders.agg(
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("violations"))
        val negPrice = lake.lineitem.agg(
          sum(when(col("l_extendedprice") < 0.0, 1L).otherwise(0L)).as("violations"))
        val badDisc = lake.lineitem.agg(
          sum(when(col("l_discount") < 0.0 || col("l_discount") > 1.0, 1L)
            .otherwise(0L)).as("violations"))
        val dupPk = lake.orders.groupBy("o_orderkey")
          .agg(count(lit(1)).as("c")).where(col("c") > 1)
          .agg(count(lit(1)).as("violations"))
        one("fk_lineitem_orders", orphan)
          .unionByName(one("null_o_custkey", nullKey))
          .unionByName(one("neg_l_extendedprice", negPrice))
          .unionByName(one("range_l_discount", badDisc))
          .unionByName(one("pk_orders_unique", dupPk))
          .orderBy("rule")
      },
      Some(
        """SELECT 'fk_lineitem_orders' AS rule, CAST(count(*) AS BIGINT) AS violations
          |FROM lineitem l WHERE NOT EXISTS (
          |  SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
          |UNION ALL
          |SELECT 'null_o_custkey', CAST(sum(CASE WHEN o_custkey IS NULL
          |  THEN 1 ELSE 0 END) AS BIGINT) FROM orders
          |UNION ALL
          |SELECT 'neg_l_extendedprice', CAST(sum(CASE WHEN l_extendedprice < 0.0
          |  THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
          |UNION ALL
          |SELECT 'range_l_discount', CAST(sum(CASE WHEN l_discount < 0.0
          |  OR l_discount > 1.0 THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
          |UNION ALL
          |SELECT 'pk_orders_unique', CAST(count(*) AS BIGINT) FROM (
          |  SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1)
          |ORDER BY rule""".stripMargin))
  )
}
