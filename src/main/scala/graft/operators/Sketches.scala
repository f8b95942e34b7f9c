package graft.operators

import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.quantilescommon.QuantileSearchCriteria
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge => B}
import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
import org.apache.spark.sql.catalyst.expressions.{IsNotNull, Literal}
import org.apache.spark.sql.functions._

/** Mergeable distinct-count sketches (Apache DataSketches HLL, surfaced
  * through Spark's `hll_sketch_agg` family) — the scale remedy for the
  * one aggregate the incremental-maintenance story cannot otherwise
  * cover. SUM/COUNT/MIN/MAX are algebraic, so [[LakeMaintenance]]'s IVM
  * merges partials; COUNT(DISTINCT) is holistic — a stored per-day
  * distinct count cannot be combined with a delta without re-scanning
  * history, which at 100 TB means the nightly "unique users to date"
  * query re-reads the lake. A sketch makes distinct algebraic again:
  *
  *  - a per-slice sketch is a few KB (≤ ~2^lgK registers), independent
  *    of slice size;
  *  - union is associative, commutative and IDEMPOTENT (registers
  *    combine by max), so replayed batches and overlapping slices are
  *    harmless — exactly the property an exactly-once-ish pipeline wants;
  *  - register max-merge is associative, so the union of same-lgK
  *    partials gives the SAME estimate under any merge schedule — the
  *    incremental answer is independent of how history was batched
  *    (q49's gate compares two schedules inside one plan). One caveat,
  *    pinned by SketchSpec: a never-unioned stream sketch estimates via
  *    HIP, union results via the composite estimator — those two agree
  *    within the error bound, not bit-for-bit, once past coupon mode.
  *
  * Estimate error is ~1.04/sqrt(2^lgK) (≈1.6% at the default lgK=12);
  * below ~0.75·2^lgK distinct values the sketch is still in its exact
  * (coupon) mode and the estimate is the true count. Sketch columns are
  * plain BINARY — they persist to Parquet like any column, so a sketch
  * table maintained by [[mergeInto]] is itself a snapshot the lake ops
  * (versioning, time travel) apply to unchanged.
  */
object Sketches {

  /** Per-group sketch partials: one BINARY `hll` column per group.
    * Map-side partial aggregation does the heavy lifting — each task
    * emits one ≤~2^lgK-byte state per group, so the shuffle carries
    * sketches, never rows. */
  def sketchBy(df: DataFrame, groupCols: Seq[String], valueCol: String,
               lgK: Int = 12): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("hll"))

  /** Roll partials up to a coarser grouping (e.g. (type, day) → type).
    * Same-lgK unions only — a silent lgK downgrade would quietly change
    * the error bound, so mismatches fail loudly. */
  def rollup(partials: DataFrame, groupCols: Seq[String]): DataFrame =
    partials.groupBy(groupCols.map(col): _*)
      .agg(hll_union_agg(col("hll"), lit(false)).as("hll"))

  /** Adds the cardinality estimate for the `hll` column. */
  def withEstimate(df: DataFrame, estCol: String = "distinct_est"): DataFrame =
    df.withColumn(estCol, hll_sketch_estimate(col("hll")))

  /** IVM merge of a delta batch's partials into a stored sketch table:
    * full-outer join on the group key, union where both sides exist,
    * pass-through where only one does. Because union is idempotent,
    * replaying an already-merged delta is a state-level no-op — the
    * crash-replay guarantee [[LakeMaintenance.upsertIntoSnapshot]] gives
    * rows, extended to sketch state. Both sides are keyed aggregates
    * (small relative to the data), and the join is an equi-join on the
    * group columns — broadcastable whenever the group domain is. */
  def mergeInto(existing: DataFrame, delta: DataFrame,
                groupCols: Seq[String]): DataFrame = {
    val e = existing.withColumnRenamed("hll", "hll_e")
    val d = delta.withColumnRenamed("hll", "hll_d")
    e.join(d, groupCols, "full_outer")
      .withColumn("hll",
        when(col("hll_e").isNull, col("hll_d"))
          .when(col("hll_d").isNull, col("hll_e"))
          .otherwise(hll_union(col("hll_e"), col("hll_d"))))
      .drop("hll_e", "hll_d")
  }

  // ---- the other sketch families: Spark's own built-ins -------------
  // Theta (set algebra: theta_sketch_agg / theta_union_agg /
  // theta_intersection / theta_difference / theta_sketch_estimate) and
  // KLL (kll_sketch_agg_double / kll_merge_agg_double) are called
  // directly. Theta is exact below 2^lgK distinct values; KLL answers
  // exact order statistics below k retained values and holds its rank
  // error bound past it (compaction is randomized). The readers below
  // cover what the built-ins leave to the caller.

  /** Inclusive-rank quantile `q` of a KLL sketch; null for an empty
    * sketch (a quantile of nothing is undefined, while Spark's reader
    * throws KLL_INVALID_INPUT_SKETCH_BUFFER on one, e.g. the sketch of
    * an all-null cohort). */
  def kllQuantile(sk: Column, q: Column): Column =
    ifNonEmptyKll(sk, kll_sketch_get_quantile_double(sk, q))

  /** Inclusive rank of `v` in a KLL sketch; null for an empty sketch.
    * Read through DataSketches itself: Spark's kll_sketch_get_rank_double
    * only takes a literal `v`, and q53 ranks one sketch's quantile in
    * another. */
  def kllRank(sk: Column, v: Column): Column =
    ifNonEmptyKll(sk, kllRankOf(sk, v))

  private val kllRankOf = udf((sk: Array[Byte], v: Double) =>
    KllDoublesSketch.heapify(Memory.wrap(sk))
      .getRank(v, QuantileSearchCriteria.INCLUSIVE))

  private def ifNonEmptyKll(sk: Column, read: Column): Column =
    when(kll_sketch_get_n_double(sk) > 0, read)

  /** Frequent-items sketch of `item` (the `approx_top_k_accumulate`
    * state struct). The DataSketches `ItemsSketch` map is sized to the
    * next power of 2 of maxItemsTracked/0.75, so while a group holds at
    * most `maxItemsTracked` distinct items nothing is purged and every
    * estimate is the exact count, deterministic under any partitioning
    * or merge order; past it estimates carry error <= n/mapSize and
    * reads report NO_FALSE_POSITIVES. Nulls are skipped, like every
    * other sketch's (the built-in tallies them as a NULL item). */
  def freqSketchAgg(item: Column, maxItemsTracked: Int = 192): Column = {
    val e = B.expression(item)
    B.column(UnresolvedFunction(Seq("approx_top_k_accumulate"),
      Seq(e, Literal(maxItemsTracked)), isDistinct = false,
      filter = Some(IsNotNull(e))))
  }

  /** Merge of stored [[freqSketchAgg]] states — the rollup face. */
  def freqMergeAgg(state: Column, maxItemsTracked: Int = 192): Column =
    call_function("approx_top_k_combine", state, lit(maxItemsTracked))

  /** Top `k` (item, count) structs of a [[freqSketchAgg]] state, ordered
    * by count descending then item ascending — a total order, so an
    * exact-mode answer is deterministic (the built-in leaves ties in
    * hash-map order, hence the full list is read and sorted here). */
  def freqTopItems(state: Column, k: Int, maxItemsTracked: Int = 192): Column = {
    val all = call_function("approx_top_k_estimate", state, lit(maxItemsTracked))
    slice(array_sort(all, (a, b) => {
      val (ca, cb) = (a.getField("count"), b.getField("count"))
      val (ia, ib) = (a.getField("item"), b.getField("item"))
      when(ca > cb, -1).when(ca < cb, 1)
        .when(ia < ib, -1).when(ia > ib, 1).otherwise(0)
    }), 1, k)
  }

  /** One row (item, d, bucket) per row of `df` and sketch row d: the
    * count-min cells the item increments. Row d's bucket is the first 7
    * hex digits of md5("d:item") mod width — a portable hash family, so
    * an external engine replays every bucket (the t17 oracle rebuilds
    * each collision mass and the min exactly). */
  private def cellsOf(df: DataFrame, item: String, depth: Int,
                      width: Int): DataFrame = {
    val cells = (0 until depth).map(d => struct(lit(d).as("d"),
      pmod(conv(substring(md5(concat(lit(s"$d:"), col(item))), 1, 7), 16, 10)
        .cast("long"), lit(width.toLong)).as("bucket")))
    df.select(col(item), explode(array(cells: _*)).as("c"))
      .select(col(item), col("c.d").as("d"), col("c.bucket").as("bucket"))
  }

  /** Count-min sketch of column `item` of `df` as rows (d, bucket, cnt):
    * a grouped count over the depth×width cells, so map-side partial
    * aggregation ships at most depth·width rows per task however long
    * the stream. */
  def countMinSketch(df: DataFrame, item: String, depth: Int,
                     width: Int): DataFrame =
    cellsOf(df, item, depth, width).groupBy("d", "bucket")
      .agg(count(lit(1)).as("cnt"))

  /** Point estimates for the items of `probes` (column `item`) from a
    * [[countMinSketch]] of the same depth and width: (item, est), est
    * the min over rows of the item's cell counts (an empty cell counts
    * 0) — an overestimate by the collision mass, never an under. */
  def countMinEstimate(probes: DataFrame, item: String, sketch: DataFrame,
                       depth: Int, width: Int): DataFrame =
    cellsOf(probes, item, depth, width)
      .join(broadcast(sketch), Seq("d", "bucket"), "left")
      .groupBy(item).agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
}
