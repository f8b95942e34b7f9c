package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.operators.MaterializedView

/** Continuous materialized-view maintenance: the streaming face of
  * [[MaterializedView.absorb]], completing the persisted-state stream
  * family (snapshots, aggregates, sketches, joined views, the vector
  * index, the skipping manifest — and now the routed view catalog).
  *
  * Each micro-batch's rows are folded into the stored view at
  * |batch| + |groups| cost. Freshness is FILE-SET-VERIFIED, not
  * trusted: every absorb passes the batch's actual input files, and
  * [[MaterializedView.absorb]] compares the post-absorb base listing
  * against the expected set (snapshotted files + this batch's files).
  * A base that already holds files the stream has NOT yet fed — a
  * multi-file append split across micro-batches by
  * `maxFilesPerTrigger`, or rows landed after this batch was planned —
  * yields a deliberately-stale fingerprint, so
  * [[graft.plans.MaterializedViewRule]] keeps reading direct until the
  * feed catches up (correct in both states, by the rule's freshness
  * gate; the view routes exactly while it has absorbed every base
  * file).
  *
  * Feed the stream FROM THE BASE DIRECTORY itself: rows read from
  * files already in the view's snapshotted ledger (the seed content
  * aggregated at [[MaterializedView.create]]) are dropped here by
  * input-file name, so the file source's replay-everything semantics
  * cannot double-count the seed. A detached feed directory also works,
  * but then the absorbed files never appear in the base listing, so the
  * expected-set check keeps routing parked — with a detached feed, pair
  * the stream with periodic [[MaterializedView.refresh]] instead.
  *
  * Exactly-once: the batch id persists with the definition (each
  * absorb commits a new generation carrying it), so a crash-replayed batch
  * is folded ONCE — absorb alone would double-count it. The view must
  * exist ([[MaterializedView.create]] over the base dir) before the
  * stream starts; a new JVM re-registers it with
  * [[MaterializedView.load]] and resumes from the persisted guard. */
object MvStream {

  /** Maintain registered view `name` from an unbounded frame over the
    * view's base directory (`spark.readStream...parquet(basePath)`).
    *
    * Scale note: each batch's input-file list rides through the driver
    * (the per-batch ledger diff), so size `maxFilesPerTrigger` to keep
    * per-batch file lists driver-friendly — the same bound the
    * file-name ledger in the view's definition already implies for a plain
    * parquet dir. A million-file base belongs behind a
    * snapshot-versioned manifest, where the delta IS the version diff. */
  def maintain(rows: DataFrame, name: String,
               checkpoint: String): DataStreamWriter[Row] =
    rows.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val d = MaterializedView.registered.getOrElse(name,
          throw new NoSuchElementException(s"no materialized view named $name"))
        val known = d.baseFiles.toSet
        // `input_file_name()` returns URI-ENCODED strings (a streaming
        // batch's `inputFiles` is empty — the file set comes from the
        // rows). Collect the RAW spellings, decode them DRIVER-side
        // into the ledger's scheme-free decoded form (a path with a
        // space is `%20` in one world and ' ' in the other), and filter
        // the batch by exact raw-to-raw comparison against the same
        // function — no executor-side normalization to drift.
        val raw = batch.select(input_file_name().as("f")).distinct()
          .collect().map(_.getString(0)).toSeq
        val decodedOf = raw.map(r =>
          r -> MaterializedView.normalizePath(r)).toMap
        val freshRaw = raw.filterNot(r => known(decodedOf(r)))
        if (freshRaw.nonEmpty) {
          val rows = batch.where(
            input_file_name().isin(freshRaw.map(f => f: Any): _*))
          MaterializedView.absorb(batch.sparkSession, name, rows, batchId,
            deltaFiles = Some(freshRaw.map(decodedOf)))
        }
        ()
      }
}
