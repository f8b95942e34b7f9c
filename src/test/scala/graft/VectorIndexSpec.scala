package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import graft.operators.{Similarity, VectorIndex}

/** The persisted-IVF-index contract: serving from disk equals the inline
  * train-and-query path, the probed read is partition-pruned to the
  * probed buckets (the nProbe/2^planes byte-cost claim s14 rides on),
  * and the generational manifest commit makes build/append CRASH-ATOMIC:
  * a writer dying before the manifest rename leaves the prior
  * generation byte-identically servable. */
class VectorIndexSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val emb = Lake(spark, sf0001).embeddings
  private lazy val corpus = emb.where(col("vec_id") >= 10)
  private lazy val queries = emb.where(col("vec_id") < 10)

  /** Fresh stage dir (wiped per session — generations would otherwise
    * accrete across sbt invocations and shift the g numbers the layout
    * assertions read). */
  private def freshDir(name: String): String = {
    val p = s"target/ivf_stage/$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    p
  }

  private lazy val dir = {
    val p = freshDir("vector_index_spec")
    VectorIndex.build(corpus, p, "vec_id", "embedding", planes = 4)
    p
  }

  test("served top-k equals the inline ivfTopK at the same parameters") {
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val served = canon(VectorIndex.query(spark, dir, queries,
      "vec_id", "embedding", k = 5, nProbe = 3))
    val inline = canon(Similarity.ivfTopK(corpus, queries,
      "vec_id", "embedding", k = 5, planes = 4, nProbe = 3))
    assert(served === inline)
    assert(served.nonEmpty)
  }

  test("index layout: cells are bucket-partitioned, centroids bounded by 2^planes") {
    val buckets = new java.io.File(s"$dir/v=1").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("bucket="))
    assert(buckets.length > 1, s"expected bucket partitions, got ${buckets.toSeq}")
    assert(VectorIndex.centroids(spark, dir).count() <= 16)
    assert(VectorIndex.generations(spark, dir) === Seq(1L))
  }

  test("the stored centroid table equals a freshly derived one (kmeansIters = 0)") {
    // s14's inline leg ranks its probes against the stored table, so the
    // table's content is pinned here, bit for bit
    def byBucket(df: org.apache.spark.sql.DataFrame) =
      df.select("bucket", "centroid").collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1)).sortBy(_._1).toSeq
    val fresh = Similarity.trainCells(corpus, "vec_id", "embedding",
      planes = 4, kmeansIters = 0)._2
    val stored = byBucket(VectorIndex.centroids(spark, dir))
    assert(stored.nonEmpty)
    assert(stored === byBucket(fresh))
  }

  test("probe scan is dynamically partition-pruned to the probed buckets") {
    val df = VectorIndex.query(spark, dir, queries,
      "vec_id", "embedding", k = 5, nProbe = 2)
    df.collect()
    val p = df.queryExecution.executedPlan
    val plan = p.collectFirst { case a: AdaptiveSparkPlanExec => a.executedPlan }
      .getOrElse(p).toString
    assert(plan.contains("dynamicpruning"), plan.take(800))
  }

  test("append-grown LSH index holds a rebuild's cells; full-probe answers agree") {
    val p1 = freshDir("vector_index_spec_append")
    val p2 = freshDir("vector_index_spec_full")
    val half1 = corpus.where(col("vec_id") % 2 === 0)
    val half2 = corpus.where(col("vec_id") % 2 === 1)
    VectorIndex.build(half1, p1, "vec_id", "embedding", planes = 4)
    VectorIndex.append(half2, p1, "vec_id", "embedding")
    VectorIndex.build(corpus, p2, "vec_id", "embedding", planes = 4)
    // cell-for-cell: deterministic hash assignment makes the grown index
    // hold exactly the rebuilt index's (id, bucket) set
    def cells(dir: String) = VectorIndex.cells(spark, dir)
      .select("neighbor_id", "bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(cells(p1) === cells(p2))
    // probing EVERY bucket removes centroid-float probe-order effects:
    // the served answer must then be identical
    def canon(dir: String) =
      VectorIndex.query(spark, dir, queries, "vec_id", "embedding",
          k = 5, nProbe = 16)
        .select("query_id", "rank", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(canon(p1) === canon(p2))
    // refreshed centroids track a rebuild's within float tolerance
    val c1 = VectorIndex.centroids(spark, p1).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val c2 = VectorIndex.centroids(spark, p2).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(c1.keySet === c2.keySet)
    for (b <- c1.keySet; (x, y) <- c1(b).zip(c2(b)))
      assert(math.abs(x - y) < 1e-9, s"bucket $b centroid drifted")
  }

  test("trained-mode append routes new vectors to existing centroids only") {
    val p = freshDir("vector_index_spec_trained")
    val half1 = corpus.where(col("vec_id") % 2 === 0)
    val half2 = corpus.where(col("vec_id") % 2 === 1)
    VectorIndex.build(half1, p, "vec_id", "embedding",
      planes = 3, kmeansIters = 2)
    val bucketsBefore = VectorIndex.cells(spark, p)
      .select("bucket").distinct().collect().map(_.getInt(0)).toSet
    VectorIndex.append(half2, p, "vec_id", "embedding")
    val after = VectorIndex.cells(spark, p)
    val bucketsAfter = after.select("bucket").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(bucketsAfter === bucketsBefore, "append must not invent cells")
    assert(after.count() === corpus.count())
    val served = VectorIndex.query(spark, p, queries,
      "vec_id", "embedding", k = 5, nProbe = 2)
    assert(served.groupBy("query_id").count()
      .where(col("count") =!= 5).count() === 0L)
  }

  test("rebuild republishes atomically; a fresh session can query without retraining") {
    val p = freshDir("vector_index_spec_rebuild")
    VectorIndex.build(corpus, p, "vec_id", "embedding", planes = 4)
    VectorIndex.build(corpus, p, "vec_id", "embedding", planes = 4)
    assert(VectorIndex.generations(spark, p) === Seq(1L, 2L))
    val n = VectorIndex.query(spark, p, queries,
      "vec_id", "embedding", k = 3, nProbe = 2).count()
    assert(n > 0)
  }

  test("race law: racing builds land distinct generations, each serving its own corpus") {
    val p = freshDir("vector_index_spec_race")
    val halves = Seq(corpus.where(col("vec_id") % 2 === 0),
      corpus.where(col("vec_id") % 2 === 1))
    def ids(df: org.apache.spark.sql.DataFrame, c: String) =
      df.select(c).collect().map(_.getLong(0)).toSet
    // retain = 0: vacuum reads a torn generation below the newest commit
    // as a dead writer's, so a build that vacuums could clear its racing
    // peer's generation mid-write; this pins claim and commit alone
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    try {
      halves.map { h =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            barrier.await()
            VectorIndex.build(h, p, "vec_id", "embedding", planes = 4, retain = 0)
          }
        })
      }.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(VectorIndex.generations(spark, p) === Seq(1L, 2L))
    assert(Seq(1L, 2L).map(g => ids(VectorIndex.cells(spark, p, g), "neighbor_id")).toSet ===
      halves.map(ids(_, "vec_id")).toSet, "a generation mixed or lost a writer's cells")
  }

  test("a writer killed mid-append is invisible: query serves the pre-append index byte-identically") {
    val p = freshDir("vector_index_spec_torn")
    VectorIndex.build(corpus.where(col("vec_id") % 2 === 0), p,
      "vec_id", "embedding", planes = 4)
    def canon() = VectorIndex.query(spark, p, queries,
        "vec_id", "embedding", k = 5, nProbe = 16)
      .collect().map(_.toString).sorted.toSeq
    val before = canon()
    val cellsBefore = VectorIndex.cells(spark, p)
      .collect().map(_.toString).sorted.toSeq
    // simulate a writer dying after its DATA writes but before the
    // manifest rename: delta cell files under a fresh generation,
    // refreshed centroids, even a staged (hidden) manifest — everything
    // an append does except the final commit
    corpus.where(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_vec"),
        graft.functions.VectorFunctions.lshBucket(col("embedding"), 4)
          .as("bucket"))
      .write.partitionBy("bucket").parquet(s"$p/v=2")
    VectorIndex.centroids(spark, p)
      .write.parquet(s"$p/v=2/_centroids")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$p/v=2/._graft_manifest.json.tmp"),
      "{\"gen\":2}")
    // a stray orphan inside an EXISTING manifested bucket dir must be
    // ignored too (readers scan exactly the manifested files)
    val bucketDir = new java.io.File(s"$p/v=1").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket=")).head
    val donor = bucketDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(donor.toPath,
      bucketDir.toPath.resolve("part-orphan-from-dead-writer.parquet"))
    assert(VectorIndex.generations(spark, p) === Seq(1L))
    assert(VectorIndex.cells(spark, p)
      .collect().map(_.toString).sorted.toSeq === cellsBefore)
    assert(canon() === before)
    // a RETRIED append then commits normally (fresh generation, no
    // duplicates)
    VectorIndex.append(corpus.where(col("vec_id") % 2 === 1), p,
      "vec_id", "embedding")
    val served = VectorIndex.cells(spark, p)
    assert(served.count() === corpus.count())
    assert(served.select("neighbor_id").distinct().count() === corpus.count())
  }

  test("streamed ingest equals a batch rebuild, absorbs each batch exactly once, and compaction is a query no-op") {
    val p = freshDir("vector_index_spec_stream")
    val feedDir = freshDir("vector_index_spec_feed")
    val half1 = corpus.where(col("vec_id") % 2 === 0)
    val half2 = corpus.where(col("vec_id") % 2 === 1)
    VectorIndex.build(half1, p, "vec_id", "embedding", planes = 4)
    // bounded feed, one file per micro-batch -> several append commits
    half2.where(col("vec_id") % 4 === 1).coalesce(1)
      .write.mode("append").parquet(feedDir)
    half2.where(col("vec_id") % 4 === 3).coalesce(1)
      .write.mode("append").parquet(feedDir)
    val stream = graft.streaming.IndexStream.indexStream(
        graft.streaming.IndexStream.readEmbeddings(spark, feedDir)
          .select("vec_id", "embedding"),
        p, "vec_id", "embedding",
        checkpoint = freshDir("vector_index_spec_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("maxFilesPerTrigger", "1")
      .start()
    stream.awaitTermination()
    def cellSet() = VectorIndex.cells(spark, p)
      .select("neighbor_id", "bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    val full = freshDir("vector_index_spec_stream_full")
    VectorIndex.build(corpus, full, "vec_id", "embedding", planes = 4)
    assert(cellSet() === VectorIndex.cells(spark, full)
      .select("neighbor_id", "bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq)
    // replaying an absorbed batch id is a committed no-op (exactly-once)
    val gensBefore = VectorIndex.generations(spark, p)
    VectorIndex.append(half2, p, "vec_id", "embedding", batchId = 0L)
    assert(VectorIndex.generations(spark, p) === gensBefore)
    assert(cellSet().size === corpus.count())
    // compaction: same answers, fewer referenced generations/files
    def canon() = VectorIndex.query(spark, p, queries,
        "vec_id", "embedding", k = 5, nProbe = 16)
      .collect().map(_.toString).sorted.toSeq
    val before = canon()
    VectorIndex.compact(spark, p)
    assert(canon() === before)
    VectorIndex.vacuum(spark, p, keepLast = 1)
    assert(canon() === before)
    // post-compaction the live generation holds ONE file batch per bucket
    val gen = VectorIndex.generations(spark, p).last
    val bucketDirs = new java.io.File(s"$p/v=$gen").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
    assert(bucketDirs.nonEmpty)
    for (b <- bucketDirs)
      assert(b.listFiles().count(_.getName.endsWith(".parquet")) === 1,
        s"bucket ${b.getName} not compacted")
  }

  test("compaction crash window: kill between generation commit and vacuum is reader-invisible; append ≡ rebuild") {
    // The VectorIndex twin of DedupStream's compaction chaos spec: the
    // production maintenance cycle is compact() THEN vacuum(), two
    // separate FS mutations. The window between them — compacted
    // generation committed, superseded generations not yet reclaimed —
    // is exactly where a real maintenance job dies. The claim under
    // test: everything inside that window is invisible to readers,
    // replay-safe for streaming ingest, open for new appends, and fully
    // retired by the NEXT maintenance cycle.
    val p = freshDir("vector_index_spec_chaos")
    val batches = (0 to 3).map(i => corpus.where(col("vec_id") % 4 === i))
    VectorIndex.build(batches(0), p, "vec_id", "embedding", planes = 4,
      retain = 0)
    VectorIndex.append(batches(1), p, "vec_id", "embedding", batchId = 1L)
    VectorIndex.append(batches(2), p, "vec_id", "embedding", batchId = 2L)
    def cellSet(dir: String) = VectorIndex.cells(spark, dir)
      .select("neighbor_id", "bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    def canon(dir: String) = VectorIndex.query(spark, dir, queries,
        "vec_id", "embedding", k = 5, nProbe = 16)
      .select("query_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val preCompactCells = cellSet(p)
    val preCompactAnswer = canon(p)
    assert(VectorIndex.generations(spark, p) === Seq(1L, 2L, 3L))

    // THE KILL: production half 1 (the generation commit), then the
    // process dies before the vacuum — superseded generations stay on
    // disk exactly as a real crash leaves them
    VectorIndex.compact(spark, p)
    assert(VectorIndex.generations(spark, p) === Seq(1L, 2L, 3L, 4L),
      "the crash window must hold the compacted + all superseded generations")

    // reader equivalence across the window: newest manifest wins, the
    // data-layout no-op changed nothing a reader can observe
    assert(cellSet(p) === preCompactCells,
      "the crash window must be invisible to readers")
    assert(canon(p) === preCompactAnswer)
    // the in-band replay guard still holds in the window (compact
    // carries the last absorbed batchId forward)
    VectorIndex.append(batches(2), p, "vec_id", "embedding", batchId = 2L)
    assert(cellSet(p) === preCompactCells,
      "a replayed batch in the crash window must no-op")
    // new data lands correctly in the window (delta above the compacted
    // generation)
    VectorIndex.append(batches(3), p, "vec_id", "embedding", batchId = 3L)
    val after3 = cellSet(p)
    assert(after3.size === corpus.count())

    // recovery: the NEXT maintenance cycle retires every superseded
    // generation, including the pre-crash ones the interrupted vacuum
    // never removed
    VectorIndex.compact(spark, p)
    VectorIndex.vacuum(spark, p, keepLast = 1)
    val live = VectorIndex.generations(spark, p)
    assert(live.size === 1,
      s"recovery maintenance must leave exactly one generation, got $live")
    assert(cellSet(p) === after3, "recovery must preserve the index")
    // superseded cell dirs are physically gone (the recovered manifest
    // references only its own generation's files)
    for (g <- 1L to 4L)
      assert(!new java.io.File(s"$p/v=$g").exists(),
        s"superseded v=$g must be reclaimed")
    // the replay guard survives both compactions
    VectorIndex.append(batches(3), p, "vec_id", "embedding", batchId = 3L)
    assert(cellSet(p) === after3)

    // append ≡ rebuild: the same batches folded on a fresh root with no
    // compaction (and no crash) produce the identical index — cell set
    // and full-probe served answers both
    val rebuilt = freshDir("vector_index_spec_chaos_rebuild")
    VectorIndex.build(batches(0), rebuilt, "vec_id", "embedding",
      planes = 4, retain = 0)
    (1 to 3).foreach { i =>
      VectorIndex.append(batches(i), rebuilt, "vec_id", "embedding",
        batchId = i.toLong)
    }
    assert(cellSet(rebuilt) === after3,
      "crashed-maintenance index must equal the uncompacted rebuild")
    assert(canon(rebuilt) === canon(p))
  }

  test("vacuum reclaims superseded generations and dead-writer orphans, keeps the servable index") {
    val p = freshDir("vector_index_spec_vacuum")
    val half1 = corpus.where(col("vec_id") % 2 === 0)
    val half2 = corpus.where(col("vec_id") % 2 === 1)
    VectorIndex.build(half1, p, "vec_id", "embedding", planes = 4, retain = 0)
    VectorIndex.append(half2, p, "vec_id", "embedding")
    // torn writer leftovers below the newest commit
    VectorIndex.centroids(spark, p).write.parquet(s"$p/v=0/_centroids")
    val before = VectorIndex.query(spark, p, queries,
        "vec_id", "embedding", k = 5, nProbe = 16)
      .collect().map(_.toString).sorted.toSeq
    assert(VectorIndex.vacuum(spark, p, keepLast = 1) === Seq(1L))
    assert(VectorIndex.generations(spark, p) === Seq(2L))
    // superseded centroid table + orphan gone; manifested cells intact
    assert(!new java.io.File(s"$p/v=1/_centroids").exists())
    assert(!new java.io.File(s"$p/v=0").exists())
    // the v=2 (append) manifest still references v=1's CELL files: kept
    assert(new java.io.File(s"$p/v=1").listFiles()
      .exists(_.getName.startsWith("bucket=")))
    val after = VectorIndex.query(spark, p, queries,
        "vec_id", "embedding", k = 5, nProbe = 16)
      .collect().map(_.toString).sorted.toSeq
    assert(after === before)
  }

  test("a stray parquet file in the centroid directory changes no answer") {
    val p = freshDir("vector_index_spec_stray")
    VectorIndex.build(corpus, p, "vec_id", "embedding", planes = 4)
    def answers() = VectorIndex.query(spark, p, queries,
        "vec_id", "embedding", k = 5, nProbe = 16)
      .collect().map(_.toString).sorted.toSeq
    val before = answers()
    val nCentroids = VectorIndex.centroids(spark, p).count()
    // a copy of a real centroid file: read as data, every centroid row
    // would appear twice
    val centroidDir = new java.io.File(s"$p/v=1/_centroids")
    val part = centroidDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(centroidDir, "part-99999-stray.snappy.parquet").toPath)
    assert(VectorIndex.centroids(spark, p).count() === nCentroids)
    assert(answers() === before)
  }
}
