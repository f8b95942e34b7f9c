package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StructType
import graft.operators.ZoneMapTable

/** Continuous ingest into a zone-mapped table: the streaming face of
  * [[graft.operators.ZoneMapTable.append]], completing the
  * persisted-state stream family (snapshots, aggregates, sketches,
  * joined views, the vector index — and now the skipping manifest).
  * Each micro-batch range-clusters ONLY its own rows into new files and
  * unions their per-file footer stats into the manifest, so ingest cost
  * is delta-sized at any table size; range reads through
  * [[ZoneMapTable.prunedRead]] keep skipping files concurrently with
  * ingest, because readers resolve the newest COMMITTED manifest
  * generation.
  *
  * Exactly-once: the batch id rides the manifest generation (recorded
  * in its commit), so a
  * crash-replayed batch is absorbed once — a batch that died mid-append
  * left only orphan data files no manifest references, and the replay
  * appends fresh ones. The table must exist ([[ZoneMapTable.write]])
  * before the stream starts. Batch-side maintenance stays with the
  * batch API: periodic [[ZoneMapTable.write]] re-clustering restores
  * global file disjointness when many batches' zones overlap.
  */
object ZoneMapStream {

  /** Unbounded read of a parquet feed directory with a declared schema
    * (file-source streams cannot infer). */
  def readFeed(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** Maintain the zone-mapped table at `dir` from an unbounded frame.
    * `filesPerBatch` bounds each micro-batch's file count (its
    * range-clustering width) — size it to batchBytes / targetFileBytes.
    * `compactEvery > 0` re-clusters + vacuums after every Nth batch
    * (into `compactTo` files), bounding file-count growth under
    * continuous ingest the way `IndexStream` does for the vector
    * index. */
  def zoneMapStream(rows: DataFrame, dir: String, clusterCol: String,
                    statsCols: Seq[String], filesPerBatch: Int,
                    checkpoint: String, compactEvery: Int = 0,
                    compactTo: Int = 16): DataStreamWriter[Row] =
    rows.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ZoneMapTable.append(batch, dir, clusterCol, statsCols,
          filesPerBatch, batchId)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
          ZoneMapTable.compact(batch.sparkSession, dir, clusterCol,
            statsCols, compactTo)
          ZoneMapTable.vacuumData(batch.sparkSession, dir)
          ()
        }
      }
}
