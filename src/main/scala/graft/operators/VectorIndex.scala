package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path}
import graft.functions.VectorFunctions.{cosine, cosineHof}

/** Persisted IVF index: the build-once / probe-many split a production
  * ANN service runs, separated from [[Similarity.ivfTopK]]'s inline
  * train-and-query (which re-trains per call — right for one-shot
  * analytics, wrong for a 100 TB corpus serving many query batches).
  *
  * Layout under `dir` — GENERATIONAL, through the engine's one commit
  * protocol ([[Generations]]):
  *   - `v=<n>/bucket=<b>/…parquet` — cell data files; a build writes a
  *     full generation, an append writes ONLY its delta files into a
  *     fresh generation (existing files are never rewritten)
  *   - `v=<n>/_centroids/` — the centroid table a generation serves (at
  *     most 2^planes rows)
  *   - `v=<n>/_graft_manifest.json` — generation n's commit: planes /
  *     trained flag, the generation whose centroid table it serves, the
  *     EXACT cell-file list (path → byte length) that constitutes it —
  *     an append's list spans earlier generations' files — the exact
  *     centroid-file list, the last absorbed batch id and the frames'
  *     schemas.
  *
  * A generation exists only once its manifest does, so a writer dying
  * at ANY earlier point (partial delta files, refreshed centroids,
  * staged manifest) leaves the previous generation byte-identically
  * servable: readers resolve the newest committed manifest and scan
  * exactly its manifested files, never whatever else the directory
  * holds. A RETRIED append claims a fresh generation, so the crashed
  * attempt's orphan files are never referenced (no duplicate rows — the
  * batch-guard convention SnapshotStream follows); [[vacuum]] reclaims
  * them.
  *
  * The bucket partitioning is the scale design: `query` joins the cell
  * scan on `bucket` against a broadcast probe list, so Spark's dynamic
  * partition pruning reads ONLY the probed buckets' files — querying
  * touches nProbe/2^planes of the corpus bytes, not all of them.
  * (VectorIndexSpec pins the pruning in the plan.) Re-probing with
  * different nProbe/k re-reads the index, never re-trains it.
  */
object VectorIndex {

  private val CentroidDir = "_centroids"

  private def fsOf(spark: SparkSession, path: Path): FileSystem =
    path.getFileSystem(spark.sessionState.newHadoopConf())

  /** Committed generations under `dir`, ascending. */
  def generations(spark: SparkSession, dir: String): Seq[Long] = {
    val root = new Path(dir)
    Generations.committed(fsOf(spark, root), root)
  }

  /** One exchange keyed on (bucket, id-hash mod n) so the partitioned
    * write leaves ≤ n files per bucket dir instead of one per upstream
    * task per bucket. */
  private def bucketSized(cells: DataFrame, filesPerBucket: Int): DataFrame = {
    require(filesPerBucket >= 1, s"filesPerBucket must be >= 1, got $filesPerBucket")
    if (filesPerBucket == 1) cells.repartition(col("bucket"))
    else cells.repartition(col("bucket"),
      pmod(xxhash64(col("neighbor_id")), lit(filesPerBucket)))
  }

  private def claim(spark: SparkSession, dir: String): Long = {
    val root = new Path(dir)
    Generations.claim(fsOf(spark, root), root)
  }

  /** Cells partitioned by bucket into claimed generation `gen` (append
    * mode: the directory already holds the claim). */
  private def writeCells(cells: DataFrame, dir: String, gen: Long): Unit =
    cells.write.mode("append").partitionBy("bucket")
      .parquet(Generations.dir(new Path(dir), gen).toString)

  private def genFiles(spark: SparkSession, dir: String, gen: Long,
                       sub: String = ""): Map[String, Long] = {
    val root = new Path(dir)
    Generations.dataFiles(fsOf(spark, root), root, gen, sub)
  }

  /** `cellSchema`/`centroidSchema` are the DDL of the frames the writer
    * persisted (known statically at write time — recording them costs
    * nothing). Readers pass them to `spark.read.schema(...)`, so serving
    * never runs a footer-sampling schema-inference job (guide §6 — the
    * manifest is the source of truth, the Iceberg/Delta pattern; `Lake`'s
    * fingerprint cache does the same for raw tables). `centroidGen` is
    * the generation holding the centroid table this one serves, and
    * `centroidFiles` that table's files. */
  private case class Manifest(gen: Long, planes: Int, trained: Boolean,
                              centroidGen: Long, files: Map[String, Long],
                              batchId: Long, cellSchema: String,
                              centroidSchema: String,
                              centroidFiles: Map[String, Long])

  /** DDL with every field relaxed to nullable — exactly the shape parquet
    * schema inference reports, so a manifest-schema read plans identically
    * to an inferred one (same downstream nullability, same output schema). */
  private def nullableDDL(s: org.apache.spark.sql.types.StructType): String =
    graft.Lake.nullableDDL(s)

  private def commit(spark: SparkSession, dir: String, m: Manifest): Unit = {
    import org.json4s.JsonDSL._
    val root = new Path(dir)
    Generations.commit(fsOf(spark, root), root, m.gen,
      ("planes" -> m.planes) ~ ("trained" -> m.trained) ~
        ("centroids" -> m.centroidGen) ~ ("batchId" -> m.batchId) ~
        ("cellSchema" -> m.cellSchema) ~ ("centroidSchema" -> m.centroidSchema) ~
        ("files" -> Generations.filesJson(m.files)) ~
        ("centroidFiles" -> Generations.filesJson(m.centroidFiles)))
  }

  private def readManifest(spark: SparkSession, dir: String,
                           gen: Long): Manifest = {
    import org.json4s._
    val root = new Path(dir)
    val j = Generations.manifest(fsOf(spark, root), root, gen)
    def fail(field: String) = throw new java.io.IOException(
      s"malformed index manifest v=$gen under $dir: bad $field")
    def long(field: String) = j \ field match { case JInt(v) => v.toLong; case _ => fail(field) }
    def str(field: String) = j \ field match { case JString(v) => v; case _ => fail(field) }
    Manifest(gen, long("planes").toInt,
      j \ "trained" match { case JBool(v) => v; case _ => fail("trained") },
      long("centroids"), Generations.filesOf(j), long("batchId"),
      str("cellSchema"), str("centroidSchema"),
      Generations.filesOf(j, "centroidFiles"))
  }

  private def latestManifest(spark: SparkSession, dir: String,
                             gen: Long = -1L): Manifest = {
    val gens = generations(spark, dir)
    require(gens.nonEmpty, s"no committed index generations under $dir")
    val g = if (gen < 0) gens.last else gen
    require(gens.contains(g), s"generation $g not in $gens")
    readManifest(spark, dir, g)
  }

  /** Manifested cell rows `(neighbor_id, c_vec, bucket)` of a committed
    * generation (latest when `gen < 0`). The scan reads EXACTLY the
    * manifested files — orphans from a crashed writer are invisible —
    * and validates each manifested file's presence and length first, so
    * a half-vacuumed or externally-mutated index fails loudly instead of
    * serving a partial answer. `bucket` stays a PARTITION column of the
    * scan (basePath keeps directory inference), which is what lets probe
    * joins prune at file granularity. */
  def cells(spark: SparkSession, dir: String, gen: Long = -1L,
            validate: Boolean = true): DataFrame = {
    val m = latestManifest(spark, dir, gen)
    if (validate) {
      val root = new Path(dir)
      Generations.validate(fsOf(spark, root), root, m.files, s"index v=${m.gen}")
    }
    if (m.files.isEmpty)
      return spark.range(0).select(col("id").as("neighbor_id"),
        array().cast("array<float>").as("c_vec"), lit(0).as("bucket"))
    spark.read.option("basePath", dir)
      .schema(org.apache.spark.sql.types.StructType.fromDDL(m.cellSchema))
      .parquet(m.files.keys.toSeq.sorted.map(f => s"$dir/$f"): _*)
      .select(col("neighbor_id"), col("c_vec"), col("bucket"))
  }

  /** A committed generation's centroid table `(bucket, centroid)`: its
    * manifested centroid files, validated like [[cells]], never whatever
    * else the centroid directory holds. */
  def centroids(spark: SparkSession, dir: String, gen: Long = -1L): DataFrame = {
    val m = latestManifest(spark, dir, gen)
    val root = new Path(dir)
    Generations.validate(fsOf(spark, root), root, m.centroidFiles,
      s"index v=${m.gen} centroids")
    spark.read
      .schema(org.apache.spark.sql.types.StructType.fromDDL(m.centroidSchema))
      .parquet(m.centroidFiles.keys.toSeq.sorted.map(f => s"$dir/$f"): _*)
  }

  private def centroidPath(dir: String, gen: Long): String =
    new Path(Generations.dir(new Path(dir), gen), CentroidDir).toString

  /** Train and persist the index as generation `lastGen + 1`. An
    * existing index stays SERVABLE throughout — the new generation
    * becomes visible only at the manifest rename; `retain` then vacuums
    * to the newest `retain` generations (0 disables — e.g. when pinned
    * readers must keep resolving old generations).
    *
    * Deterministic for `kmeansIters = 0` (LSH-hyperplane cells — the
    * portable mode the s14 gate replays); trained cells
    * (`kmeansIters > 0`) trade that for occupancy balance.
    *
    * `filesPerBucket` bounds the cell-file count: without it every
    * upstream task writes its own sliver into every bucket dir it
    * touches (tasks × buckets files — a 100 TB build from tens of
    * thousands of tasks would leave millions of footers for `query` to
    * open, and even the sf0.1 gate left ~7 files per bucket). The
    * pre-write shuffle keys on (bucket, id-hash mod filesPerBucket) so
    * each bucket collapses to at most `filesPerBucket` files; size it
    * to corpusBytes / (2^planes · targetFileBytes). */
  def build(corpus: DataFrame, dir: String, idCol: String, vecCol: String,
            planes: Int = 4, kmeansIters: Int = 0, retain: Int = 2,
            filesPerBucket: Int = 1): Unit = {
    val spark = corpus.sparkSession
    val gen = claim(spark, dir)
    val (cellRows, centroidRows) =
      Similarity.trainCells(corpus, idCol, vecCol, planes, kmeansIters)
    val cellOut = cellRows.select(col("neighbor_id"), col("c_vec"), col("bucket"))
    writeCells(bucketSized(cellOut, filesPerBucket), dir, gen)
    centroidRows.write.mode("errorifexists").parquet(centroidPath(dir, gen))
    commit(spark, dir, Manifest(gen, planes, kmeansIters > 0, gen,
      genFiles(spark, dir, gen), -1L, nullableDDL(cellOut.schema),
      nullableDDL(centroidRows.schema), genFiles(spark, dir, gen, CentroidDir)))
    if (retain > 0) vacuum(spark, dir, keepLast = retain)
  }

  /** Incremental index maintenance: route new vectors into the EXISTING
    * cells — the quantizer is not retrained, so the index absorbs a
    * delta batch at delta cost: assign + one partitioned delta write
    * (only the batch's rows land, in a fresh generation) + a centroid
    * refresh over the touched buckets' cells (bounded by their
    * occupancy, never the index size) + one manifest rename. Crash-safe
    * and retry-safe per the commit protocol above. LSH mode re-derives
    * the same deterministic hash assignment `build` used, so an
    * append-grown index holds cell-for-cell the data of a from-scratch
    * build (VectorIndexSpec pins this with full-probe query equality);
    * trained mode assigns to the nearest stored centroid — the standard
    * IVF insert, with the known drift caveat that heavy growth
    * eventually wants a re-[[build]] (centroids follow their cells here,
    * but the PARTITION of space is frozen).
    *
    * `batchId` makes a SUCCESSFUL append replay-safe (exactly-once for
    * streaming ingest): the manifest records the last absorbed id, and
    * an append whose id is at or below it is a no-op — the
    * SnapshotStream convention. Leave it -1 for one-shot batch use. */
  def append(newVecs: DataFrame, dir: String, idCol: String, vecCol: String,
             batchId: Long = -1L): Unit = {
    val spark = newVecs.sparkSession
    val prev = latestManifest(spark, dir)
    if (batchId >= 0 && prev.batchId >= batchId) return // replay: already absorbed
    val gen = claim(spark, dir)
    val v = newVecs.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val assigned =
      if (!prev.trained)
        v.withColumn("bucket",
          graft.functions.VectorFunctions.lshBucket(col("c_vec"), prev.planes))
      else {
        // nearest stored centroid by cosine; broadcast (≤2^planes rows),
        // one map-side-combined argmax — no window, no fan-out kept
        val cents = centroids(spark, dir, prev.gen)
        v.crossJoin(broadcast(cents))
          .withColumn("__sim", cosineHof(
            transform(col("c_vec"), x => x.cast("double")), col("centroid")))
          .groupBy("neighbor_id")
          .agg(first(col("c_vec")).as("c_vec"),
            max_by(col("bucket"), struct(col("__sim"), -col("bucket")))
              .as("bucket"))
      }
    writeCells(bucketSized(
      assigned.select(col("neighbor_id"), col("c_vec"), col("bucket")),
      filesPerBucket = 1), dir, gen)
    val deltaFiles = genFiles(spark, dir, gen)
    if (deltaFiles.isEmpty) return // empty batch: nothing to commit
    // Touched-bucket centroid refresh: recompute means from the merged
    // cells so probe ranking tracks what the buckets now hold. The
    // touched-bucket list is ≤2^planes ids on the driver; untouched
    // centroid rows pass through unchanged. Only files under touched
    // bucket dirs are read — a path filter on the manifest, no footer
    // of an untouched bucket is opened.
    val touched = deltaFiles.keys
      .flatMap(p => "bucket=(\\d+)".r.findFirstMatchIn(p).map(_.group(1).toInt))
      .toSeq.distinct
    val mergedFiles = prev.files ++ deltaFiles
    val touchedPaths = mergedFiles.keys.toSeq.sorted
      .filter(p => touched.exists(b => p.contains(s"/bucket=$b/")))
    val touchedCells = spark.read.option("basePath", dir)
      .parquet(touchedPaths.map(f => s"$dir/$f"): _*)
      .select(col("neighbor_id"), col("c_vec"), col("bucket"))
    val dim = touchedCells.select(size(col("c_vec"))).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(0)
    val fresh = Similarity.meanVectorsWide(
      touchedCells, "bucket", "c_vec", "centroid", dim)
    val kept = centroids(spark, dir, prev.gen)
      .where(!col("bucket").isin(touched: _*))
    val centOut = kept.unionByName(fresh)
    centOut.write.mode("errorifexists").parquet(centroidPath(dir, gen))
    commit(spark, dir, Manifest(gen, prev.planes, prev.trained, gen,
      mergedFiles, math.max(prev.batchId, batchId),
      nullableDDL(
        assigned.select(col("neighbor_id"), col("c_vec"), col("bucket")).schema),
      nullableDDL(centOut.schema), genFiles(spark, dir, gen, CentroidDir)))
  }

  /** Generation compaction: rewrite the CURRENT cell set as one fresh
    * generation (one partitioned write, one file batch per bucket) and
    * republish — a data-layout no-op that collapses a long append
    * chain's small delta files, the index-side analog of
    * [[LakeMaintenance.compactSnapshotInPlace]]. A continuous ingest
    * accretes one file set per absorbed batch; reads stay correct but
    * pay per-file open costs, so periodic compaction (+ [[vacuum]] to
    * reclaim the superseded generations) keeps the file count
    * proportional to buckets, not batches. The centroid table and
    * replay guard carry forward unchanged; assignments are not
    * recomputed, so the operation commutes with [[query]] exactly
    * (spec-pinned). */
  def compact(spark: SparkSession, dir: String): Unit = {
    val prev = latestManifest(spark, dir)
    val gen = claim(spark, dir)
    val current = cells(spark, dir, prev.gen)
    // one task per bucket -> each bucket dir collapses to one file
    writeCells(current.repartition(col("bucket")), dir, gen)
    commit(spark, dir, Manifest(gen, prev.planes, prev.trained,
      prev.centroidGen, genFiles(spark, dir, gen), prev.batchId,
      nullableDDL(current.schema), prev.centroidSchema, prev.centroidFiles))
  }

  /** Retention: keep the newest `keepLast` committed generations and
    * retire the rest through [[Generations.vacuum]], which also clears
    * crashed-writer orphans below the newest commit. Cells and centroids
    * are referenced independently: an append's manifest keeps earlier
    * generations' CELL files but carries its OWN centroid table, and a
    * compaction carries its predecessor's — so every generation a kept
    * manifest references stays on disk, and a retired one keeps only the
    * half (cells or centroid table) still referenced. Returns the retired
    * generation numbers. */
  def vacuum(spark: SparkSession, dir: String, keepLast: Int = 1): Seq[Long] = {
    require(keepLast >= 1, "keepLast must be >= 1")
    val committed = generations(spark, dir)
    val kept = committed.takeRight(keepLast).map(readManifest(spark, dir, _))
    val cellGens = kept.flatMap(_.files.keys.flatMap(f =>
      Generations.number(f.takeWhile(_ != '/')))).toSet
    val centroidGens = kept.map(_.centroidGen).toSet
    val root = new Path(dir)
    val fs = fsOf(spark, root)
    Generations.vacuum(fs, root, keepLast, cellGens ++ centroidGens)
    val retired = committed.dropRight(keepLast)
    for (g <- retired if cellGens(g) || centroidGens(g);
         st <- fs.listStatus(Generations.dir(root, g))) {
      val name = st.getPath.getName
      if (if (name == CentroidDir) !centroidGens(g)
          else name.startsWith("bucket=") && !cellGens(g))
        fs.delete(st.getPath, true)
    }
    retired
  }

  /** Top-k cosine neighbors for each query row, served from the newest
    * committed generation (or a pinned `gen`): rank centroids per query
    * (tiny broadcast), probe the `nProbe` best buckets, exact-rank
    * within the probed cells. Same output contract as
    * [[Similarity.ivfTopK]]: (query_id, rank, neighbor_id, sim). */
  def query(spark: SparkSession, dir: String, queries: DataFrame,
            idCol: String, vecCol: String, k: Int,
            nProbe: Int = 2, gen: Long = -1L): DataFrame = {
    val cents = centroids(spark, dir, gen)
    val cellScan = cells(spark, dir, gen)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(desc("c_sim"), asc("bucket"))
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("c_sim", cosineHof(
        transform(col("q_vec"), x => x.cast("double")), col("centroid")))
      .withColumn("c_rank", row_number().over(wProbe))
      .where(col("c_rank") <= nProbe)
      .select("query_id", "q_vec", "bucket")
    val w = Window.partitionBy("query_id")
      .orderBy(desc("sim"), asc("neighbor_id"))
    cellScan.join(broadcast(probes), "bucket")
      .withColumn("sim", cosine(col("q_vec"), col("c_vec")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }
}
