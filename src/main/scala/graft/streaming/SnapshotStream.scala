package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.operators.{LakeMaintenance, Sketches}

/** Continuous MERGE-INTO: a stream of updates maintained as an
  * always-current key-bucketed Parquet snapshot — the streaming twin of
  * [[LakeMaintenance.mergeUpsert]], with the latest-VERSION-wins
  * resolution of [[LakeMaintenance.mergeLatest]] so the snapshot is
  * arrival-order-invariant: whatever micro-batch interleaving the
  * source delivers (late data, replays, backfills), every key converges
  * to its highest-version row.
  *
  * Each micro-batch touches only the buckets its keys hash into
  * (dynamic partition overwrite), so per-batch work scales with batch
  * size, not snapshot size; checkpointed offsets + the idempotent merge
  * give exactly-once snapshot maintenance across restarts.
  */
object SnapshotStream {

  /** `compactEvery` > 0 folds periodic maintenance into the stream:
    * after every Nth micro-batch the snapshot is rewritten in place by
    * [[LakeMaintenance.compactSnapshotInPlace]], collapsing the small
    * files dynamic partition overwrite accretes (one per touched bucket
    * × write task per batch) back to ~one per bucket. Compaction is
    * semantically a no-op, so it composes with exactly-once: a crash
    * between merge and compaction merely defers the rewrite to the next
    * trigger, and replaying the merge is already idempotent. */
  def upsertSnapshot(updates: DataFrame, path: String, checkpoint: String,
                     keyCols: Seq[String], versionCols: Seq[String],
                     numBuckets: Int = 16,
                     compactEvery: Int = 0): DataStreamWriter[Row] =
    updates.writeStream.outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        LakeMaintenance.upsertIntoSnapshot(
          batch, path, keyCols, versionCols, numBuckets)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          LakeMaintenance.compactSnapshotInPlace(
            batch.sparkSession, path, Seq("__bucket"))
      }

  /** Continuous INCREMENTAL AGGREGATE maintenance (streaming IVM) — the
    * streaming twin of the q41 partial-merge: each micro-batch's per-key
    * partials (row count + exact decimal sum) are merged into a stored
    * Parquet aggregate snapshot by summation. ADDITIVE state is not
    * naturally idempotent (re-applying a batch double-counts — unlike
    * the keyed upsert whose merge is a fixpoint), so the snapshot
    * carries the last applied batch id and [[applyAggBatch]] refuses
    * batches it has already absorbed: replay after a crash-restart
    * becomes a no-op, restoring exactly-once. Decimal sums keep the
    * merge independent of partial-aggregation order and batch split
    * points. */
  def aggSnapshot(updates: DataFrame, path: String, checkpoint: String,
                  keyCols: Seq[String], valueCol: String): DataStreamWriter[Row] =
    updates.writeStream.outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyAggBatch(batch, batchId, path, keyCols, valueCol)
      }

  /** One merge step of [[aggSnapshot]]; public so a replay is testable
    * (and callable from a batch backfill with a synthetic batch id). */
  def applyAggBatch(batch: DataFrame, batchId: Long, path: String,
                    keyCols: Seq[String], valueCol: String): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val spark = batch.sparkSession
    val hPath = new org.apache.hadoop.fs.Path(path)
    val exists = hPath.getFileSystem(spark.sessionState.newHadoopConf())
      .exists(hPath)
    val prev = if (exists) Some(spark.read.parquet(path)) else None
    // max over an EMPTY stored snapshot (an empty first micro-batch
    // leaves one behind) is null — treat as "nothing absorbed yet"
    val applied = prev.flatMap(p =>
      Option(p.agg(max(col("__last_batch"))).head().get(0))
        .map(_.asInstanceOf[Long]))
    if (applied.exists(batchId <= _)) return // already absorbed: replay no-op
    val partial = batch.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        sum(col(valueCol).cast(DecimalType(18, 6))).as("sum_value"))
    val unioned = prev match {
      case Some(p) => p
        .select(keyCols.map(col) :+ col("n_rows") :+ col("sum_value"): _*)
        .unionByName(partial)
      case None => partial
    }
    val merged = unioned.groupBy(keyCols.map(col): _*)
      .agg(sum(col("n_rows")).as("n_rows"), sum(col("sum_value")).as("sum_value"))
      .withColumn("__last_batch", lit(batchId))
      // a path cannot be overwritten while a plan still reads it
      .localCheckpoint(eager = true)
    merged.write.mode("overwrite").parquet(path)
  }

  /** Continuous DISTINCT-COUNT maintenance — the streaming twin of
    * q49's sketch IVM: each micro-batch is sketched
    * ([[graft.operators.Sketches.sketchBy]]) and unioned into a stored
    * per-group HLL snapshot, so "unique users to date" never re-scans
    * history. Stronger replay story than [[aggSnapshot]]: HLL union is
    * IDEMPOTENT (registers combine by max), so re-applying a batch
    * cannot corrupt the state even without the batch-id guard — the
    * guard here only skips the redundant write. The snapshot is a
    * normal parquet table (group cols + BINARY `hll` + `__last_batch`);
    * read estimates via [[graft.operators.Sketches.withEstimate]]. */
  def distinctSketchStream(updates: DataFrame, path: String,
                           checkpoint: String, groupCols: Seq[String],
                           valueCol: String): DataStreamWriter[Row] =
    updates.writeStream.outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applySketchBatch(batch, batchId, path, groupCols, valueCol)
      }

  /** Continuous QUANTILE maintenance — the KLL sibling of
    * [[distinctSketchStream]]: per-group value distributions (p50/p95
    * latency to date) maintained as mergeable sketch state, no history
    * re-scan. KLL merge is NOT idempotent (re-merging re-weights the
    * same values), so this path leans on the batch-id guard the way
    * [[aggSnapshot]] does — replay of an absorbed id is refused; read
    * quantiles via [[graft.operators.Sketches.kllQuantile]]. State:
    * group cols + BINARY `kll` (`kll_sketch_agg_double`, k=200) +
    * `__last_batch`. */
  def quantileSketchStream(updates: DataFrame, path: String,
                           checkpoint: String, groupCols: Seq[String],
                           valueCol: String): DataStreamWriter[Row] =
    updates.writeStream.outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyQuantileBatch(batch, batchId, path, groupCols, valueCol)
      }

  /** One merge step of [[quantileSketchStream]]. */
  def applyQuantileBatch(batch: DataFrame, batchId: Long, path: String,
                         groupCols: Seq[String], valueCol: String): Unit = {
    import org.apache.spark.sql.functions._
    val spark = batch.sparkSession
    val hPath = new org.apache.hadoop.fs.Path(path)
    val exists = hPath.getFileSystem(spark.sessionState.newHadoopConf())
      .exists(hPath)
    val prev = if (exists) Some(spark.read.parquet(path)) else None
    val applied = prev.flatMap(p =>
      Option(p.agg(max(col("__last_batch"))).head().get(0))
        .map(_.asInstanceOf[Long]))
    if (applied.exists(batchId <= _)) return // already absorbed
    val delta = batch.groupBy(groupCols.map(col): _*)
      .agg(kll_sketch_agg_double(col(valueCol).cast("double")).as("kll"))
    val merged = (prev match {
      case Some(p) =>
        p.select((groupCols.map(col) :+ col("kll")): _*)
          .unionByName(delta)
          .groupBy(groupCols.map(col): _*)
          .agg(kll_merge_agg_double(col("kll"), 200).as("kll"))
      case None => delta
    }).withColumn("__last_batch", lit(batchId))
      .localCheckpoint(eager = true)
    merged.write.mode("overwrite").parquet(path)
  }

  /** Continuous HEAVY-HITTER maintenance — the frequent-items member of
    * the sketch-maintenance family: per-group top-item state
    * ([[graft.operators.Sketches.freqSketchAgg]]) updated per
    * micro-batch, read via [[graft.operators.Sketches.freqTopItems]]
    * with no history re-scan. Frequency-sketch merge
    * ADDS counts, so like KLL it is NOT idempotent — replay of an
    * absorbed batch id is refused by the guard; unlike the HLL/theta
    * unions there is no safety net beyond it, which is exactly the
    * asymmetry the specs pin. State: group cols + the
    * `approx_top_k_accumulate` struct `freq` (maxItemsTracked 192) +
    * `__last_batch`. */
  def freqSketchStream(updates: DataFrame, path: String,
                       checkpoint: String, groupCols: Seq[String],
                       valueCol: String): DataStreamWriter[Row] =
    updates.writeStream.outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyFreqBatch(batch, batchId, path, groupCols, valueCol)
      }

  /** One merge step of [[freqSketchStream]]; public so replay is
    * testable (and for batch backfills). */
  def applyFreqBatch(batch: DataFrame, batchId: Long, path: String,
                     groupCols: Seq[String], valueCol: String): Unit = {
    import org.apache.spark.sql.functions._
    val spark = batch.sparkSession
    val hPath = new org.apache.hadoop.fs.Path(path)
    val exists = hPath.getFileSystem(spark.sessionState.newHadoopConf())
      .exists(hPath)
    val prev = if (exists) Some(spark.read.parquet(path)) else None
    val applied = prev.flatMap(p =>
      Option(p.agg(max(col("__last_batch"))).head().get(0))
        .map(_.asInstanceOf[Long]))
    if (applied.exists(batchId <= _)) return // already absorbed
    val delta = batch.groupBy(groupCols.map(col): _*)
      .agg(Sketches.freqSketchAgg(col(valueCol)).as("freq"))
    val merged = (prev match {
      case Some(p) =>
        p.select((groupCols.map(col) :+ col("freq")): _*)
          .unionByName(delta)
          .groupBy(groupCols.map(col): _*)
          .agg(Sketches.freqMergeAgg(col("freq")).as("freq"))
      case None => delta
    }).withColumn("__last_batch", lit(batchId))
      // a path cannot be overwritten while a plan still reads it
      .localCheckpoint(eager = true)
    merged.write.mode("overwrite").parquet(path)
  }

  /** Continuous SEGMENT-SKETCH maintenance — the theta member of the
    * sketch-maintenance trio ([[distinctSketchStream]] = HLL counts,
    * [[quantileSketchStream]] = KLL distributions). What the extra state
    * size buys over HLL: the stored per-group sketches support set
    * ALGEBRA at read time — retention (q54), segment overlap (q51) and
    * rolling actives (q55) become pure reads over this table via
    * Spark's `theta_intersection`/`theta_union_agg`,
    * never re-scanning history. Theta union is idempotent (a distinct
    * hash set: re-unioning absorbed data is a no-op), so like the HLL
    * path this survives double-applied backfills beyond the batch-id
    * guard. State schema: group cols + BINARY `theta` + `__last_batch`. */
  def segmentSketchStream(updates: DataFrame, path: String,
                          checkpoint: String, groupCols: Seq[String],
                          valueCol: String): DataStreamWriter[Row] =
    updates.writeStream.outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applySegmentBatch(batch, batchId, path, groupCols, valueCol)
      }

  /** One merge step of [[segmentSketchStream]]; public so replay and
    * double-apply are testable (and for batch backfills). */
  def applySegmentBatch(batch: DataFrame, batchId: Long, path: String,
                        groupCols: Seq[String], valueCol: String): Unit = {
    import org.apache.spark.sql.functions._
    val spark = batch.sparkSession
    val hPath = new org.apache.hadoop.fs.Path(path)
    val exists = hPath.getFileSystem(spark.sessionState.newHadoopConf())
      .exists(hPath)
    val prev = if (exists) Some(spark.read.parquet(path)) else None
    val applied = prev.flatMap(p =>
      Option(p.agg(max(col("__last_batch"))).head().get(0))
        .map(_.asInstanceOf[Long]))
    if (applied.exists(batchId <= _)) return // already absorbed
    val delta = batch.groupBy(groupCols.map(col): _*)
      .agg(theta_sketch_agg(col(valueCol)).as("theta"))
    val merged = (prev match {
      case Some(p) =>
        p.select((groupCols.map(col) :+ col("theta")): _*)
          .unionByName(delta)
          .groupBy(groupCols.map(col): _*)
          .agg(theta_union_agg(col("theta")).as("theta"))
      case None => delta
    }).withColumn("__last_batch", lit(batchId))
      // a path cannot be overwritten while a plan still reads it
      .localCheckpoint(eager = true)
    merged.write.mode("overwrite").parquet(path)
  }

  /** Continuous JOINED-VIEW maintenance — the streaming face of
    * [[graft.operators.IncrementalJoin]] (q59's batch delta algebra):
    * each micro-batch of left appends joins the CURRENT enrichment side
    * (re-read per batch, so dimension updates between batches are picked
    * up) and lands in the materialized view. Per-batch work is
    * |Δ| ⋈ dim — the view itself is never re-joined or re-read.
    *
    * Exactly-once comes from partition ownership rather than a batch-id
    * guard: every batch writes its rows under its own `__batch=<id>`
    * partition via dynamic partition overwrite, so a crash-replay
    * REPLACES exactly the partition it owns instead of appending
    * duplicates (the [[EventsStream.writeHourlyPartitioned]] idempotence
    * model, keyed by batch id instead of event hour).
    *
    * Scope: left appends against a current dimension. Symmetric deltas
    * on BOTH sides (late right rows must pair with already-absorbed
    * left rows) need the two-term batch algebra —
    * [[graft.operators.IncrementalJoin.joinDelta]] on a schedule — not
    * this per-batch stream. */
  def joinedViewStream(updates: DataFrame, path: String, checkpoint: String,
                       dim: () => DataFrame, keys: Seq[String]): DataStreamWriter[Row] =
    updates.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyJoinBatch(batch, batchId, path, dim(), keys)
      }

  /** One step of [[joinedViewStream]]; public so replay is testable (and
    * for batch backfills with a synthetic batch id). */
  def applyJoinBatch(batch: DataFrame, batchId: Long, path: String,
                     dim: DataFrame, keys: Seq[String]): Unit = {
    import org.apache.spark.sql.functions._
    LakeMaintenance.overwritePartitions(
      batch.join(dim, keys).withColumn("__batch", lit(batchId)),
      path, Seq("__batch"))
  }

  /** One merge step of [[distinctSketchStream]]; public so replay and
    * double-apply are testable (and for batch backfills). */
  def applySketchBatch(batch: DataFrame, batchId: Long, path: String,
                       groupCols: Seq[String], valueCol: String): Unit = {
    import org.apache.spark.sql.functions._
    import graft.operators.Sketches
    val spark = batch.sparkSession
    val hPath = new org.apache.hadoop.fs.Path(path)
    val exists = hPath.getFileSystem(spark.sessionState.newHadoopConf())
      .exists(hPath)
    val prev = if (exists) Some(spark.read.parquet(path)) else None
    val applied = prev.flatMap(p =>
      Option(p.agg(max(col("__last_batch"))).head().get(0))
        .map(_.asInstanceOf[Long]))
    if (applied.exists(batchId <= _)) return // already absorbed
    val delta = Sketches.sketchBy(batch, groupCols, valueCol)
    val merged = (prev match {
      case Some(p) => Sketches.mergeInto(
        p.select((groupCols.map(col) :+ col("hll")): _*), delta, groupCols)
      case None => delta
    }).withColumn("__last_batch", lit(batchId))
      // a path cannot be overwritten while a plan still reads it
      .localCheckpoint(eager = true)
    merged.write.mode("overwrite").parquet(path)
  }
}
