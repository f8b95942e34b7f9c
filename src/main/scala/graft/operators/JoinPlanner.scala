package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sketch-driven JOIN PLANNING — what the summary family is FOR at
  * 100 TB: before launching a petabyte join, answer "how big is the
  * output, is a side broadcastable, is a key skewed" from per-table
  * sketch state instead of scanning either side twice.
  *
  * Each side contributes ONE 1-row aggregate: row count + a theta
  * sketch of its join key (Spark's `theta_sketch_agg`, lgK sized so
  * test-scale keyspaces stay in exact mode), optionally a frequency
  * sketch ([[Sketches.freqSketchAgg]]) for the heavy hitter. The
  * estimates compose on the 1-row cross of those aggregates — a
  * broadcast of two single rows, never data-sized — and
  * because sketches MERGE, per-partition/per-day sketch tables already
  * in the lake answer the same questions without touching the tables
  * at all (the q49/q54 persistence playbook).
  *
  * Output-size model: containment-style uniformity — every common
  * distinct key carries its side-average multiplicity,
  * `est_out = (n_l/d_l) · (n_r/d_r) · |keys_l ∩ keys_r|` — the
  * classic System-R-family estimate, exact when multiplicities are
  * uniform (JoinOpsSpec pins both the exact case and a documented
  * over/under case). `floor` not `round` on the way to integer: the
  * operand chain is identical in both engines so the double is
  * bit-identical, and floor has no half-way rule to disagree on.
  */
object JoinPlanner {

  /** 1-row join statistics + strategy advice for an equi-join of
    * `left` on `lKey` with `right` on `rKey`. Columns: n_left, n_right,
    * d_left, d_right (distinct keys), n_common (distinct key overlap),
    * est_out (modelled output rows), strategy ('broadcast-left' /
    * 'broadcast-right' / 'shuffle-hash' by `broadcastMaxRows`). */
  def joinStats(left: DataFrame, lKey: String,
                right: DataFrame, rKey: String,
                broadcastMaxRows: Long = 1000000L,
                lgK: Int = 18): DataFrame = {
    val l = left.agg(count(lit(1)).as("n_left"),
      theta_sketch_agg(col(lKey), lgK).as("skl"))
    val r = right.agg(count(lit(1)).as("n_right"),
      theta_sketch_agg(col(rKey), lgK).as("skr"))
    l.crossJoin(broadcast(r))
      .select(col("n_left"), col("n_right"),
        theta_sketch_estimate(col("skl")).as("d_left"),
        theta_sketch_estimate(col("skr")).as("d_right"),
        theta_sketch_estimate(theta_intersection(col("skl"), col("skr")))
          .as("n_common"))
      .withColumn("est_out",
        // an empty side has d = 0: the estimate is 0, not a division
        // error (ANSI mode turns x/0 into an exception)
        when(col("d_left") === 0 || col("d_right") === 0, lit(0L))
          .otherwise(floor((col("n_left").cast("double") / col("d_left"))
            * (col("n_right").cast("double") / col("d_right"))
            * col("n_common")).cast("long")))
      .withColumn("strategy",
        when(least(col("n_left"), col("n_right")) <= broadcastMaxRows,
          when(col("n_right") <= col("n_left"), lit("broadcast-right"))
            .otherwise(lit("broadcast-left")))
          .otherwise(lit("shuffle-hash")))
  }

  /** The same statistics computed WITHOUT touching either table: from
    * two persisted sketch-state tables of the
    * `segmentSketchStream`/`applySegmentBatch` shape (any grouping,
    * BINARY theta column + a row-count column). Sketch state merges
    * associatively, so per-day/per-shard rows roll up here to the
    * table-level numbers — join planning over 100 TB from megabytes of
    * state the stream already maintains. Strategy semantics are
    * identical to [[joinStats]]; a spec pins the two paths equal. */
  def joinStatsFromSketches(leftState: DataFrame, lSketchCol: String,
                            lCountCol: String,
                            rightState: DataFrame, rSketchCol: String,
                            rCountCol: String,
                            broadcastMaxRows: Long = 1000000L): DataFrame = {
    val l = leftState.agg(sum(col(lCountCol)).as("n_left"),
      theta_union_agg(col(lSketchCol)).as("skl"))
    val r = rightState.agg(sum(col(rCountCol)).as("n_right"),
      theta_union_agg(col(rSketchCol)).as("skr"))
    l.crossJoin(broadcast(r))
      .select(col("n_left"), col("n_right"),
        theta_sketch_estimate(col("skl")).as("d_left"),
        theta_sketch_estimate(col("skr")).as("d_right"),
        theta_sketch_estimate(theta_intersection(col("skl"), col("skr")))
          .as("n_common"))
      .withColumn("est_out",
        // an empty side has d = 0: the estimate is 0, not a division
        // error (ANSI mode turns x/0 into an exception)
        when(col("d_left") === 0 || col("d_right") === 0, lit(0L))
          .otherwise(floor((col("n_left").cast("double") / col("d_left"))
            * (col("n_right").cast("double") / col("d_right"))
            * col("n_common")).cast("long")))
      .withColumn("strategy",
        when(least(col("n_left"), col("n_right")) <= broadcastMaxRows,
          when(col("n_right") <= col("n_left"), lit("broadcast-right"))
            .otherwise(lit("broadcast-left")))
          .otherwise(lit("shuffle-hash")))
  }

  /** The decision [[plannedJoin]] executes, exposed for tests and
    * observability: which physical shape the sketch statistics picked,
    * the salt count when salting, and the demonstrably-hot probe keys
    * (string-rendered) the frequency sketch surfaced. When `hotKeys` is
    * non-empty the salted execution replicates the build side ONLY for
    * those keys ([[SkewJoin.saltedJoinHot]]) — `salts`× replication of
    * a handful of rows instead of the whole build side. Empty = legacy
    * full replication. */
  final case class JoinPlan(strategy: String, salts: Int,
                            hotKeys: Seq[String] = Nil)

  /** Pick the join shape from sketch statistics alone: two 1-row
    * aggregates ([[joinStats]] for sizes, [[skewProbe]] on the probe
    * side for the heavy hitter) — never a second full scan of either
    * table beyond those aggregates.
    *
    *  - a side at or under `broadcastMaxRows` → broadcast it;
    *  - else if the probe side's hottest key owns ≥ `skewShareThreshold`
    *    of its rows → salt, with the count that brings the hot key's
    *    expected per-task load down to `targetRatio` × the mean key
    *    load (mean from the theta distinct estimate — the
    *    [[SkewJoin.adviseSalts]] formula computed from sketches),
    *    clamped to [2, maxSalts];
    *  - else → plain shuffle join (AQE's runtime skew split remains the
    *    backstop for skew below the threshold). */
  def planFor(left: DataFrame, lKey: String,
              right: DataFrame, rKey: String,
              broadcastMaxRows: Long = 1000000L,
              skewShareThreshold: Double = 0.125,
              targetRatio: Double = 4.0, maxSalts: Int = 64): JoinPlan = {
    require(targetRatio >= 1.0 && maxSalts > 1)
    // ONE aggregate pass per side (optimization r19, guide §2.3/§1.2):
    // the size/distinct sketches AND the probe side's heavy-hitter
    // sketch ride the same left scan — previously the skew probe was a
    // SECOND full scan of the probe side (at 100 TB: a second pass over
    // the fact to decide what the first pass could already tell). The
    // freq sketch is computed unconditionally; in the broadcast case it
    // is a wasted map-side sketch on a scan that had to happen anyway,
    // in every other case it replaces a full re-scan. Decision inputs
    // and thresholds are unchanged (JoinOpsSpec pins them).
    // top-k, not top-1 (ADVICE r19): with SEVERAL keys above the skew
    // threshold, surfacing only the heaviest would pin every other heavy
    // key to salt 0 on one task — worse than legacy full-replication
    // salting, which at least spread all left rows. Every sketch item
    // whose share clears skewShareThreshold is surfaced as hot; the salt
    // count still sizes to the single heaviest key (the straggler bound).
    val l = left.agg(count(lit(1)).as("n_left"),
      theta_sketch_agg(col(lKey), 18).as("skl"),
      Sketches.freqTopItems(
        Sketches.freqSketchAgg(col(lKey).cast("string"), 768),
        maxSalts, 768).as("top"))
    val r = right.agg(count(lit(1)).as("n_right"),
      theta_sketch_agg(col(rKey), 18).as("skr"))
    val st = l.crossJoin(broadcast(r))
      .select(col("n_left"), col("n_right"),
        theta_sketch_estimate(col("skl")).as("d_left"), col("top"))
      .head()
    val nLeft = st.getAs[Long]("n_left")
    val nRight = st.getAs[Long]("n_right")
    if (math.min(nLeft, nRight) <= broadcastMaxRows)
      JoinPlan(if (nRight <= nLeft) "broadcast-right" else "broadcast-left", 1)
    else {
      val dLeft = math.max(1L, st.getAs[Long]("d_left"))
      val top = st.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("top")
      val topRows = top.headOption.map(_.getAs[Long]("count")).getOrElse(0L)
      val share = if (nLeft == 0L) 0.0 else topRows.toDouble / nLeft
      if (share >= skewShareThreshold) {
        val mean = nLeft.toDouble / dLeft
        val need = math.ceil(topRows / (mean * targetRatio)).toInt
        if (need <= 1) JoinPlan("shuffle-hash", 1)
        else JoinPlan("salted", math.min(need, maxSalts),
          top.filter(r => r.getAs[String]("item") != null &&
              r.getAs[Long]("count").toDouble / nLeft >= skewShareThreshold)
            .map(_.getAs[String]("item")).toSeq)
      } else JoinPlan("shuffle-hash", 1)
    }
  }

  /** Execute an inner equi-join under [[planFor]]'s decision — the
    * closed planning loop: the sketch advice (q58/q43) actually picks
    * broadcast / salted / plain instead of only reporting. Output is
    * multiset-identical to `left.join(right, lKey === rKey).drop(rKey)`
    * whichever shape runs (column order: left columns then
    * right-minus-key — the [[SkewJoin.saltedJoin]] shape), law-pinned
    * in JoinOpsSpec across skewed, uniform and broadcast-small
    * fixtures. */
  def plannedJoin(left: DataFrame, lKey: String,
                  right: DataFrame, rKey: String,
                  broadcastMaxRows: Long = 1000000L,
                  skewShareThreshold: Double = 0.125,
                  targetRatio: Double = 4.0, maxSalts: Int = 64): DataFrame =
    executeJoin(planFor(left, lKey, right, rKey, broadcastMaxRows,
      skewShareThreshold, targetRatio, maxSalts), left, lKey, right, rKey)

  /** [[plannedJoin]]'s execution half with the decision passed IN —
    * for callers that want to observe/emit the plan (q79 gates the
    * strategy literal) without running the planning aggregates twice. */
  def executeJoin(plan: JoinPlan, left: DataFrame, lKey: String,
                  right: DataFrame, rKey: String): DataFrame = {
    def plain(l: DataFrame, r: DataFrame): DataFrame =
      l.join(r, l(lKey) === r(rKey)).drop(r(rKey))
    plan.strategy match {
      case "broadcast-right" => plain(left, broadcast(right))
      case "broadcast-left"  => plain(broadcast(left), right)
      case "salted" =>
        // saltedJoin joins on one shared column name: align the right
        // key to the left's, which also lands the plain path's
        // right-minus-key output shape. With known hot keys, replicate
        // ONLY those (saltedJoinHot) — the whole-build-side replication
        // is the legacy fallback for callers that salt blind.
        // hot-key salting compares hotness via the keys' string
        // rendering, which only agrees with the native `===` when both
        // keys share one type (ADVICE r19) — differently-typed keys take
        // the legacy full-replication path, correct for any coercion
        if (plan.hotKeys.nonEmpty &&
            left.schema(lKey).dataType == right.schema(rKey).dataType)
          SkewJoin.saltedJoinHot(left,
            right.withColumnRenamed(rKey, lKey), lKey, plan.salts,
            plan.hotKeys)
        else
          SkewJoin.saltedJoin(left,
            right.withColumnRenamed(rKey, lKey), lKey, plan.salts)
      case _ => plain(left, right)
    }
  }

  /** One dimension of a star chain to be ordered: `dim` joins the fact
    * on `fact.factKey === dim.dimKey`. `name` labels the dim in the
    * planned order (and must be unique across the chain). */
  final case class StarDim(name: String, dim: DataFrame,
                           factKey: String, dimKey: String)

  /** The ordering decision for a star chain: dim names most-selective
    * first, each dim's estimated survival fraction (share of the fact's
    * distinct join keys the dim retains — under the uniform-multiplicity
    * model, the share of fact ROWS surviving that join), and each dim's
    * exact row count (the broadcast decision input). */
  final case class StarPlan(order: Seq[String],
                            survival: Map[String, Double],
                            dimRows: Map[String, Long])

  /** Sketch-driven join ORDERING for a 3+-table star chain — the
    * System-R selectivity walk run from sketch state instead of
    * statistics tables: written order is irrelevant, the most selective
    * dim joins first so every later join sees the smallest surviving
    * fact. Cost: ONE aggregate pass over the fact (a theta sketch per
    * join key, all in the same 1-row agg) and one 1-row aggregate per
    * dim (row count + key sketch) — never a trial join, never a second
    * fact scan. Survival_i = est(|keys_fact_i ∩ keys_dim_i|) /
    * est(|keys_fact_i|), exact below 2^lgK distinct keys per side (the
    * theta exact-mode contract q51 pins); ties break on dim name so the
    * order is deterministic. At 100 TB the fact pass is the same single
    * scan a first join would pay anyway, and a mis-ordered chain that
    * carries 25x the surviving rows through two more shuffles costs far
    * more. */
  def starOrder(fact: DataFrame, dims: Seq[StarDim],
                lgK: Int = 18): StarPlan = {
    require(dims.nonEmpty, "star chain needs at least one dim")
    require(dims.map(_.name).distinct.size == dims.size,
      s"dim names must be unique, got ${dims.map(_.name)}")
    val factCols = dims.map(d =>
      theta_sketch_agg(col(d.factKey), lgK).as(s"fk_${d.name}"))
    val factAgg = fact.agg(factCols.head, factCols.tail: _*)
    val dimAggs = dims.map(d => d.dim.agg(
      count(lit(1)).as(s"n_${d.name}"),
      theta_sketch_agg(col(d.dimKey), lgK).as(s"dk_${d.name}")))
    // 1-row × 1-row crosses: broadcast by construction, data-sized never
    val crossed = dimAggs.foldLeft(factAgg)(
      (acc, r) => acc.crossJoin(broadcast(r)))
    val sel = dims.flatMap(d => Seq(
      theta_sketch_estimate(col(s"fk_${d.name}")).as(s"df_${d.name}"),
      theta_sketch_estimate(theta_intersection(col(s"fk_${d.name}"),
        col(s"dk_${d.name}"))).as(s"dc_${d.name}"),
      col(s"n_${d.name}")))
    val row = crossed.select(sel: _*).head()
    val survival = dims.map { d =>
      val dFact = row.getAs[Long](s"df_${d.name}")
      val dCommon = row.getAs[Long](s"dc_${d.name}")
      d.name -> (if (dFact == 0L) 0.0 else dCommon.toDouble / dFact)
    }.toMap
    val rows = dims.map(d => d.name -> row.getAs[Long](s"n_${d.name}")).toMap
    StarPlan(dims.map(_.name).sortBy(n => (survival(n), n)),
      survival, rows)
  }

  /** Execute the star chain under [[starOrder]]'s decision: inner
    * equi-joins in most-selective-first order, each dim at or under
    * `broadcastMaxRows` broadcast (the row count is already exact from
    * the planning aggregate — no extra job). Inner equi-joins commute,
    * so the output is multiset-identical to the same chain joined in
    * WRITTEN order (the q78 equality law); only the cost moves. Each
    * dim's key column is dropped after its join (the [[plannedJoin]]
    * shape); all other columns of every input survive. */
  def orderedStarJoin(fact: DataFrame, dims: Seq[StarDim],
                      broadcastMaxRows: Long = 1000000L,
                      lgK: Int = 18): (DataFrame, StarPlan) = {
    val plan = starOrder(fact, dims, lgK)
    val byName = dims.map(d => d.name -> d).toMap
    val joined = plan.order.foldLeft(fact) { (acc, n) =>
      val d = byName(n)
      val r =
        if (plan.dimRows(n) <= broadcastMaxRows) broadcast(d.dim) else d.dim
      acc.join(r, acc(d.factKey) === r(d.dimKey)).drop(r(d.dimKey))
    }
    (joined, plan)
  }

  /** 1-row key-skew probe: the heaviest key of `df.keyCol` and its
    * share of all rows, read off a frequency sketch
    * (exact below the counter budget, NO_FALSE_POSITIVES above).
    * A share past ~1/shufflePartitions means one reducer owns that
    * key's whole row set — feed [[SkewJoin]] salting.
    *
    * The NO_FALSE_POSITIVES list is EMPTY when no key's count clears
    * the sketch's error bound (~n/mapSize) — the uniform-keys case
    * at scale (6M rows over 1.5M orderkeys ⇒ every count ≈ 4 ≪ the
    * ~5.9k bound). That is a "no demonstrably heavy key" answer, not
    * an error: report top_key null / top_rows 0 / top_share 0.0 so
    * [[planFor]] falls through to the plain shuffle join. A bare
    * element_at here threw under ANSI and killed q61 at sf1. */
  def skewProbe(df: DataFrame, keyCol: String,
                maxItemsTracked: Int = 768): DataFrame = {
    df.agg(count(lit(1)).as("n_rows"),
        Sketches.freqTopItems(
          Sketches.freqSketchAgg(col(keyCol).cast("string"), maxItemsTracked),
          1, maxItemsTracked).as("top"))
      .select(col("n_rows"),
        try_element_at(col("top"), lit(1)).getField("item").as("top_key"),
        coalesce(try_element_at(col("top"), lit(1)).getField("count"), lit(0L))
          .as("top_rows"))
      .withColumn("top_share",
        // An empty relation gives 0.0/0.0 = NaN (IEEE division, not
        // null, even under ANSI) and Spark orders NaN ABOVE every
        // number — coalesce alone would let planFor read "empty" as
        // maximally skewed. Guard the zero denominator explicitly.
        when(col("n_rows") === 0, lit(0.0)).otherwise(
          coalesce(col("top_rows").cast("double") / col("n_rows"),
            lit(0.0))))
  }
}
