package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Manifest-driven data skipping: the READ-side half of the zone-map
  * story. [[LakeMaintenance.clusterBy]] writes range-clustered files so
  * values co-locate; `q40` shows the per-shard min/max stats; this
  * operator PERSISTS those stats as a per-file manifest and serves
  * range-filtered reads that open only the files whose zone intersects
  * the predicate — whole files skipped before any footer is touched.
  *
  * This is the engine-level formulation of what Delta/Iceberg keep in
  * their table metadata: at 100 TB a clustered table resolves a narrow
  * range scan from the manifest (file-count-sized, one tiny read) to a
  * handful of data files, while a bare directory scan must at least open
  * every footer. Parquet row-group pushdown still applies WITHIN the
  * surviving files — the two skipping layers compose.
  *
  * Layout under `dir`: `data/` (clustered parquet) + `_zonemap/` (one
  * row per file: path, n_rows, per-column min/max). [[write]] derives
  * the manifest for the files it just clustered, [[append]] for the
  * DELTA's files only — the 100 TB ingest path, where a manifest
  * rebuild would cost a table scan per batch. Both read the stats from
  * the parquet FOOTERS when the column types allow (metadata-only:
  * zero data bytes), falling back to a column-pruned scan otherwise —
  * see [[statsOf]]. */
object ZoneMapTable {

  // The manifest is CRASH-ATOMIC via the engine's one commit protocol
  // ([[Generations]]): each manifest version lands under
  // `_zonemap/v=<n>/` and becomes visible only when its commit record
  // (`_graft_manifest.json`: the table and manifest DDL and the last
  // absorbed batch id) exists. A torn manifest must never be readable —
  // unlike torn DATA (a missing file fails the read loudly), a
  // half-written manifest would silently SKIP files and serve a wrong
  // answer. Readers resolve the newest committed generation; publish
  // vacuums superseded ones.

  private val StarStatsDir = "_starstats"

  /** lgK of the write-time key sketches: exact below 2^14 distinct keys
    * per column, ±0.8% RSE above — survival RANKING (the only consumer)
    * is robust to far coarser estimates. ≤128 KB per sketch. */
  private[graft] val StarLgK = 14

  private def zfsOf(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def manifestRoot(dir: String) = new org.apache.hadoop.fs.Path(s"$dir/_zonemap")

  /** Whether `dir` holds a committed zone-mapped table — the "already
    * built" probe of the build-once-if-absent query stages. */
  def isBuilt(spark: SparkSession, dir: String): Boolean = {
    val root = manifestRoot(dir)
    Generations.committed(zfsOf(spark, root), root).nonEmpty
  }

  /** The newest committed manifest generation: its directory and its
    * commit record. */
  private def liveGen(spark: SparkSession, dir: String)
      : Option[(org.apache.hadoop.fs.Path, org.json4s.JValue)] = {
    val root = manifestRoot(dir)
    val fs = zfsOf(spark, root)
    Generations.committed(fs, root).lastOption.map(n =>
      (Generations.dir(root, n), Generations.manifest(fs, root, n)))
  }

  /** [[liveGen]] for a read: a table without one (never written, or its
    * first publish died) fails loudly rather than serving a torn
    * manifest. */
  private def live(spark: SparkSession, dir: String) =
    liveGen(spark, dir).getOrElse(throw new java.io.FileNotFoundException(
      s"no committed zone-map generation under $dir"))

  private def ddlOf(commit: org.json4s.JValue, field: String) = commit \ field match {
    case org.json4s.JString(ddl) => org.apache.spark.sql.types.StructType.fromDDL(ddl)
    case other => throw new java.io.IOException(
      s"zone-map commit without a $field schema: $other")
  }

  /** The live manifest, one row per file — exposed for tests and
    * observability. */
  def manifest(spark: SparkSession, dir: String): DataFrame = {
    val (gen, commit) = live(spark, dir)
    manifestOf(spark, gen, commit)
  }

  /** A generation's manifest, read with its recorded schema — no
    * footer-sampling inference job per pruned read (r20, guide §6). */
  private def manifestOf(spark: SparkSession, gen: org.apache.hadoop.fs.Path,
                         commit: org.json4s.JValue): DataFrame =
    spark.read.schema(ddlOf(commit, "manifest")).parquet(gen.toString)

  /** Land a manifest as the next committed generation, then vacuum
    * every other one — derived state keeps no history; [[writeVersion]]
    * is the time-travel form. The commit records the table's and the
    * manifest's DDL (relaxed to the all-nullable shape inference reports,
    * so readers plan without inference jobs and identically) and
    * `batchId`, the last absorbed ingest batch — the replay guard
    * [[append]] and [[graft.streaming.ZoneMapStream]] read. */
  private def publishManifest(spark: SparkSession, dir: String,
                              manifest: DataFrame,
                              tableSchema: org.apache.spark.sql.types.StructType,
                              batchId: Long = -1L,
                              starStats: Option[DataFrame] = None): Unit = {
    import org.json4s.JsonDSL._
    val root = manifestRoot(dir)
    val fs = zfsOf(spark, root)
    val n = Generations.claim(fs, root)
    val gen = Generations.dir(root, n).toString
    manifest.write.mode("append").parquet(gen)
    // write-time key sketches land INSIDE the generation dir, before the
    // commit — crash-atomic with the zone manifest (the leading
    // underscore keeps the manifest's parquet read from seeing them)
    starStats.foreach(_.write.mode("errorifexists").parquet(s"$gen/$StarStatsDir"))
    Generations.commit(fs, root, n,
      ("table" -> graft.Lake.nullableDDL(tableSchema)) ~
        ("manifest" -> graft.Lake.nullableDDL(manifest.schema)) ~
        ("batchId" -> batchId))
    Generations.vacuum(fs, root, keepLast = 1)
  }

  // ---- write-time key sketches (transparent star ordering) ------------
  // Per committed generation, `_starstats` holds one row per sketched
  // column: (col, n_rows, sketch) — a theta sketch of the column's
  // values, the PRE-COMPUTED statistic graft.plans.StarOrderRule reads
  // (never computes) to reorder 3+-dim star chains at plan time with
  // zero plan-time jobs (SURVEY §4 r15 addendum: the operator-form
  // starOrder probes with a Spark job; a RULE may only read state that
  // already exists). Maintenance discipline matches the manifest:
  // [[write]] computes them from the files just written (one extra agg
  // pass over the landed parquet — write-time, delta/table-sized,
  // never plan-time, and immune to a non-deterministic input df),
  // [[append]] sketches the delta's files and theta-unions them into
  // the previous generation's (delta cost), [[compact]] carries them
  // forward verbatim (contents unchanged).

  /** The newest committed generation's star stats, one row per sketched
    * column: (col, n_rows, sketch). None when the table was written
    * without `sketchCols`. */
  def starStats(spark: SparkSession, dir: String): Option[DataFrame] =
    liveGen(spark, dir).flatMap { case (gen, _) =>
      val p = new org.apache.hadoop.fs.Path(gen, StarStatsDir)
      // known fixed sidecar schema: skip the per-call 1-task schema-
      // inference job (the r19 Lake.read rationale; the lazy rule-side
      // loader already reads with this schema)
      if (zfsOf(spark, p).exists(p))
        Some(spark.read.schema(starStatsSchema).parquet(p.toString))
      else None
    }

  private val starStatsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("col",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("n_rows",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("sketch",
      org.apache.spark.sql.types.BinaryType, nullable = false)))

  /** One agg pass over `df`: total rows + a theta sketch per sketch
    * column, returned driver-side (sketchCols.size small rows). */
  private def computeStarStats(df: DataFrame, sketchCols: Seq[String])
      : Seq[(String, Long, Array[Byte])] = {
    import graft.plans.ThetaSketchExprs._
    val aggs = count(lit(1)).as("n") +:
      sketchCols.map(c => thetaSketchAgg(col(c), StarLgK).as(s"sk_$c"))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getLong(0)
    sketchCols.zipWithIndex.map { case (c, i) =>
      (c, n, row.getAs[Array[Byte]](i + 1))
    }
  }

  private def starStatsDf(spark: SparkSession,
                          rows: Seq[(String, Long, Array[Byte])]): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList(rows.map { case (c, n, sk) =>
        org.apache.spark.sql.Row(c, n, sk) }.asJava), starStatsSchema)

  /** Driver-only read of the newest committed generation's `_starstats`
    * sidecar under `tableRoot` — the lazy-load half of
    * [[graft.plans.StarStatsRegistry.statsForOrLoad]]. Reads the tiny
    * sidecar parquet with a parquet-hadoop record reader on the DRIVER,
    * launching ZERO Spark jobs: an optimizer rule's miss path runs at
    * plan time, where the §4 law allows a one-time metadata read but
    * never a job. None when the table has no committed generation or no
    * sidecar. */
  private[graft] def readStarStatsDriverSide(
      conf: org.apache.hadoop.conf.Configuration,
      tableRoot: String): Option[Seq[(String, Long, Array[Byte])]] = {
    val root = manifestRoot(tableRoot)
    val fs = root.getFileSystem(conf)
    Generations.committed(fs, root).lastOption.flatMap { n =>
      val sd = new org.apache.hadoop.fs.Path(Generations.dir(root, n), StarStatsDir)
      if (!fs.exists(sd)) None
      else {
        val files = fs.listStatus(sd).toSeq.filter(f => f.isFile &&
          !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith("."))
        val rows = files.flatMap { f =>
          val reader = org.apache.parquet.hadoop.ParquetReader.builder(
            new org.apache.parquet.hadoop.example.GroupReadSupport(),
            f.getPath).withConf(conf).build()
          try {
            Iterator.continually(reader.read()).takeWhile(_ != null).map {
              grp => (grp.getString("col", 0), grp.getLong("n_rows", 0),
                grp.getBinary("sketch", 0).getBytes)
            }.toVector
          } finally reader.close()
        }
        if (rows.isEmpty) None else Some(rows)
      }
    }
  }

  /** Register a table's PERSISTED star stats with the in-memory registry
    * the optimizer rule reads — the load-time half of "read, not
    * computed": one small manifest-sidecar read NOW (session setup), zero
    * I/O at plan time. Returns false when the table has none. (Since the
    * lazy-load path above, this explicit form is needed only to FORCE a
    * refresh — `statsForOrLoad` reaches the same sidecar transparently
    * on first miss.) */
  def loadStarStats(spark: SparkSession, dir: String): Boolean =
    starStats(spark, dir) match {
      case None => false
      case Some(df) =>
        val rows = df.collect().map(r =>
          (r.getString(0), r.getLong(1), r.getAs[Array[Byte]](2))).toSeq
        registerStarStats(spark, dir, rows)
        true
    }

  private def registerStarStats(spark: SparkSession, dir: String,
                                rows: Seq[(String, Long, Array[Byte])]): Unit =
    graft.plans.StarStatsRegistry.register(
      graft.plans.StarStatsRegistry.qualify(spark, s"$dir/data"),
      graft.plans.StarStatsRegistry.TableStats(
        rows.headOption.map(_._2).getOrElse(0L),
        rows.map(r => r._1 -> r._3).toMap))

  /** Last ingest batch id the newest committed generation absorbed
    * (−1 when none recorded — e.g. a fresh [[write]]). */
  def lastBatchId(spark: SparkSession, dir: String): Long =
    liveGen(spark, dir).fold(-1L) { case (_, commit) =>
      commit \ "batchId" match {
        case org.json4s.JInt(id) => id.toLong
        case other => throw new java.io.IOException(
          s"zone-map commit under $dir without a batchId: $other")
      }
    }

  /** Cluster `df` by `clusterCol` into `files` files under `dir/data`
    * and persist the per-file min/max manifest for `statsCols`.
    *
    * Rebuilding an EXISTING table is reader-safe: the new clustering
    * lands BESIDE the current files and the manifest flips in one
    * committed generation — an in-flight reader keeps its old file set
    * until [[vacuumData]] (the [[compact]] protocol, with `df` as the
    * new contents). Only a fresh directory takes the overwrite path. */
  def write(df: DataFrame, dir: String, clusterCol: String,
            statsCols: Seq[String], files: Int,
            sketchCols: Seq[String] = Nil): Unit = {
    require(statsCols.nonEmpty, "zone map needs at least one stats column")
    val spark = df.sparkSession
    // star stats reflect the FULL new contents on both branches (a
    // rebuild replaces the served file set, so carrying the old sketch
    // forward would describe retired data) and are computed FROM THE
    // FILES JUST WRITTEN, never by re-evaluating `df`: a
    // non-deterministic df (or a source mutated mid-write) would
    // otherwise persist sketches describing rows other than the ones
    // served. A failed write throws before anything publishes.
    def starOf(written: Seq[String]): Option[Seq[(String, Long, Array[Byte])]] =
      if (sketchCols.isEmpty) None
      else Some(computeStarStats(
        if (written.isEmpty) df.limit(0) else spark.read.parquet(written: _*),
        sketchCols))
    val star =
      if (isBuilt(spark, dir)) {
        val before = listDataFiles(spark, dir).map(fileName).toSet
        df.repartitionByRange(files, df.col(clusterCol))
          .sortWithinPartitions(clusterCol)
          .write.mode("append").parquet(s"$dir/data")
        val fresh = listDataFiles(spark, dir)
          .filterNot(p => before.contains(fileName(p)))
        val st = starOf(fresh)
        // the replay stamp survives a rebuild: stream batches absorbed
        // before it must stay no-ops on replay (the rebuild's contents
        // already reflect them)
        publishManifest(spark, dir, statsOf(spark, fresh, statsCols, df.schema),
          df.schema, lastBatchId(spark, dir), st.map(starStatsDf(spark, _)))
        st
      } else {
        LakeMaintenance.clusterBy(df, s"$dir/data", clusterCol, files)
        val all = listDataFiles(spark, dir)
        val st = starOf(all)
        publishManifest(spark, dir, statsOf(spark, all, statsCols, df.schema),
          df.schema, starStats = st.map(starStatsDf(spark, _)))
        st
      }
    star match {
      case Some(rows) => registerStarStats(spark, dir, rows)
      case None => graft.plans.StarStatsRegistry.deregister(
        graft.plans.StarStatsRegistry.qualify(spark, s"$dir/data"))
    }
  }

  private def listDataFiles(spark: SparkSession, dir: String): Seq[String] = {
    val dataPath = new org.apache.hadoop.fs.Path(s"$dir/data")
    val fs = zfsOf(spark, dataPath)
    if (!fs.exists(dataPath)) Seq.empty
    else fs.listStatus(dataPath).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_")
        && !f.getPath.getName.startsWith("."))
      .map(_.getPath.toString).sorted
  }

  /** Per-file `(file, n_rows, min_c, max_c …)` stats — from parquet
    * FOOTERS when the column types support it (metadata-only: zero
    * data bytes read, the path Delta/Iceberg stats collection takes),
    * else a column-pruned scan. The fallback is PER-FILE: a file whose
    * footer cannot yield exact bounds (a NaN-poisoned double chunk, a
    * dropped oversized string stat) is scanned alone while every clean
    * file stays metadata-only — at 100 TB one NaN row in one batch must
    * not demote the whole table's stats collection to a scan. */
  private def statsOf(spark: SparkSession, paths: Seq[String],
                      statsCols: Seq[String],
                      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    def scanStats(scanPaths: Seq[String]): DataFrame = {
      val aggs = count(lit(1)).as("n_rows") +: statsCols.flatMap(c => Seq(
        min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
      // input_file_name() renders the URI-ENCODED path spelling while
      // footer rows carry the listing's decoded Path.toString form; a
      // manifest mixing both would mis-compare basenames containing
      // percent-encodable characters (spaces etc.) in compact/vacuum.
      // Decode to ONE spelling: pre-escaping '+' makes url_decode (a
      // form decoder that would turn '+' into space) a pure URI
      // percent-decoder.
      // try_url_decode, not url_decode: a malformed percent sequence in
      // one oddly named file (a literal '%' not followed by two hex
      // digits) must degrade to that file's raw spelling, not fail the
      // whole manifest-publication job.
      val decodedFile = coalesce(
        try_url_decode(regexp_replace(input_file_name(), "\\+", "%2B")),
        input_file_name())
      spark.read.parquet(scanPaths: _*)
        .groupBy(decodedFile.as("file"))
        .agg(aggs.head, aggs.tail: _*)
    }
    if (paths.isEmpty)
      spark.range(0).select(
        (lit("").as("file") +: lit(0L).as("n_rows") +:
          statsCols.flatMap(c => Seq(
            lit(null).cast(schema(c).dataType).as(s"min_$c"),
            lit(null).cast(schema(c).dataType).as(s"max_$c")))): _*)
    else footerStats(spark, paths, statsCols, schema) match {
      case None => scanStats(paths) // a column type footers never serve
      case Some((footerDf, scanThese)) =>
        if (scanThese.isEmpty) footerDf
        else footerDf.unionByName(scanStats(scanThese))
    }
  }

  /** Above this file count the footer parse fans out as a Spark job
    * (one task per ~64 footers) instead of a driver loop — the loop is
    * fine for a per-batch delta, wrong for a 100 TB initial build whose
    * file list is tens of thousands long. private[graft] so the law
    * spec can force-exercise the distributed path. */
  private[graft] val DriverFooterBatch = 256

  /** One file's footer parse — pure and executor-safe.
    * Left(()) = this footer can't yield EXACT bounds (missing/unusable
    * chunk stats, physical-type mismatch, NaN-discarded or ±0-widened
    * float/double bounds) and the CALLER scans THIS file instead;
    * Right(None) = a 0-row file (contributes no manifest row — the
    * scan path's groupBy(file) semantics); Right(Some(values)) = the
    * manifest row's values, already materialized to Spark externals. */
  private def parseFooter(path: String,
                          conf: org.apache.hadoop.conf.Configuration,
                          statsCols: Seq[String],
                          types: Seq[org.apache.spark.sql.types.DataType])
      : Either[Unit, Option[Seq[Any]]] = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.io.api.Binary
    def materialize(v: Any, t: DataType): Any = (v, t) match {
      case (b: Binary, StringType)  => b.toStringUsingUTF8
      case (n: Number, ByteType)    => n.byteValue
      case (n: Number, ShortType)   => n.shortValue
      case (n: Number, IntegerType) => n.intValue
      case (n: Number, LongType)    => n.longValue
      case (n: Number, FloatType)   => n.floatValue
      case (n: Number, DoubleType)  => n.doubleValue
      case (n: Number, TimestampType) =>
        DateTimeUtils.toJavaTimestamp(n.longValue)
      case (n: Number, TimestampNTZType) =>
        DateTimeUtils.microsToLocalDateTime(n.longValue)
      case (n: Number, DateType) => DateTimeUtils.toJavaDate(n.intValue)
      case _ => v
    }
    // time columns ride INT64/INT32 stats only under the MICROS/DATE
    // logical annotations Spark itself writes — an INT96 legacy file or
    // a millis-unit writer falls to the per-file scan
    def timeAnnotationOk(t: DataType,
                         pt: org.apache.parquet.schema.PrimitiveType): Boolean =
      (t, pt.getLogicalTypeAnnotation) match {
        case (TimestampType, a: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation) =>
          a.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS && a.isAdjustedToUTC
        case (TimestampNTZType, a: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation) =>
          a.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS && !a.isAdjustedToUTC
        case (DateType, _: LogicalTypeAnnotation.DateLogicalTypeAnnotation) => true
        case _ => false
      }
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new org.apache.hadoop.fs.Path(path), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks
      val nRows = (0 until blocks.size).map(blocks.get(_).getRowCount).sum
      if (nRows == 0) return Right(None)
      val bounds: Seq[Option[(Any, Any)]] = statsCols.zip(types).map {
        case (c, t) =>
          // per-column merge across row groups; any unusable chunk
          // stat poisons the whole footer path (exactness first)
          var acc: Option[(Any, Any)] = None
          for (i <- 0 until blocks.size) {
            val chunk = blocks.get(i).getColumns.asScala
              .find(_.getPath.toDotString == c)
              .getOrElse(return Left(()))
            val st: org.apache.parquet.column.statistics.Statistics[_] =
              chunk.getStatistics
            if (st == null || st.isEmpty) return Left(())
            val phys = chunk.getPrimitiveType.getPrimitiveTypeName
            val ok = (t, phys) match {
              case (ByteType | ShortType | IntegerType, INT32) => true
              case (LongType, INT64)                           => true
              case (StringType, BINARY)                        => true
              case (FloatType, FLOAT)                          => true
              case (DoubleType, DOUBLE)                        => true
              case (TimestampType | TimestampNTZType, INT64) =>
                timeAnnotationOk(t, chunk.getPrimitiveType)
              case (DateType, INT32) =>
                timeAnnotationOk(t, chunk.getPrimitiveType)
              case _                                           => false
            }
            if (!ok) return Left(())
            // NaN-poisoned float/double chunk stats are DISCARDED by the
            // parquet reader (min/max absent while values exist), which
            // the hasNonNullValue/all-null checks below turn into the
            // per-file scan fallback — a footer cannot witness NaN, and
            // Spark's max() orders NaN above everything. A ±0.0 bound is
            // also unusable: the reader widens +0.0 minima to -0.0 (and
            // -0.0 maxima to +0.0), so the exact scan bound is
            // unknowable from the footer (exactness first).
            val zeroBound = (t == FloatType || t == DoubleType) &&
              st.hasNonNullValue && {
                def isZero(v: Any): Boolean = v match {
                  case f: java.lang.Float  => f.floatValue == 0.0f
                  case d: java.lang.Double => d.doubleValue == 0.0d
                  case _ => false
                }
                isZero(st.genericGetMin) || isZero(st.genericGetMax)
              }
            if (zeroBound) return Left(())
            if (st.hasNonNullValue) {
              // the column type's own comparator IS its stats order:
              // signed for ints, unsigned-lexicographic for strings —
              // exactly the order Spark's min/max would compute
              val cmp = chunk.getPrimitiveType.comparator()
                .asInstanceOf[java.util.Comparator[Any]]
              val (lo, hi) = (st.genericGetMin: Any, st.genericGetMax: Any)
              acc = acc match {
                case None => Some((lo, hi))
                case Some((alo, ahi)) =>
                  Some((if (cmp.compare(lo, alo) < 0) lo else alo,
                        if (cmp.compare(hi, ahi) > 0) hi else ahi))
              }
            } else if (st.getNumNulls != chunk.getValueCount)
              return Left(()) // no values AND not provably all-null
          }
          acc
      }
      Right(Some(path +: nRows +: bounds.zip(types).flatMap {
        case (Some((lo, hi)), t) =>
          Seq(materialize(lo, t), materialize(hi, t))
        case (None, _) => Seq(null, null) // all-null column
      }))
    } finally reader.close()
  }

  /** Footer-derived stats: the manifest rows for every file whose
    * footer yields EXACT bounds, plus the list of files that need the
    * scan fallback (NaN-poisoned or ±0.0 float/double chunk stats,
    * string chunk stats dropped past the 4 KB cap — per-file, so one
    * bad file never demotes the whole manifest). None when a column's
    * TYPE is never footer-servable — decimals, binary, and nested
    * types take the whole-manifest scan path. Supported: integral,
    * string, float and double columns — parquet chunk statistics are
    * exact for them, with the float/double NaN/±0 cases detected per
    * chunk in [[parseFooter]] — plus timestamps and dates stored as
    * INT64-micros / INT32-days annotated physical types (the engine's
    * write convention since the INT96→INT64 switch; unannotated or
    * INT96 files fall back to the per-file scan). Small file lists parse on
    * the driver (a ~KB metadata read per file); past
    * [[DriverFooterBatch]] the parse fans out over executors and only
    * the manifest-sized results come back. */
  private[graft] def footerStats(spark: SparkSession, paths: Seq[String],
                                 statsCols: Seq[String],
                                 schema: org.apache.spark.sql.types.StructType)
      : Option[(DataFrame, Seq[String])] = {
    import org.apache.spark.sql.types._
    val types = statsCols.map(c => schema(c).dataType)
    if (!types.forall {
      case ByteType | ShortType | IntegerType | LongType | StringType => true
      case FloatType | DoubleType => true
      case TimestampType | TimestampNTZType | DateType => true
      case _ => false
    }) return None
    val conf = spark.sessionState.newHadoopConf()
    val parsed: Seq[Either[Unit, Option[Seq[Any]]]] =
      if (paths.size <= DriverFooterBatch)
        paths.map(parseFooter(_, conf, statsCols, types))
      else {
        // executors rebuild the Hadoop conf from its serialized entries
        // (Configuration itself is not serializable); results shipped
        // back are manifest rows, never data
        val confEntries = conf.iterator.asScala
          .map(e => e.getKey -> e.getValue).toVector
        val (cols, ts) = (statsCols, types)
        spark.sparkContext
          .parallelize(paths, math.max(1, paths.size / 64))
          .map { p =>
            val c = new org.apache.hadoop.conf.Configuration(false)
            confEntries.foreach { case (k, v) => c.set(k, v) }
            parseFooter(p, c, cols, ts)
          }
          .collect().toSeq
      }
    val scanThese = paths.zip(parsed).collect { case (p, Left(_)) => p }
    val rows = parsed.collect { case Right(Some(vs)) =>
      org.apache.spark.sql.Row.fromSeq(vs) }
    val outSchema = StructType(
      StructField("file", StringType) +: StructField("n_rows", LongType) +:
        statsCols.zip(types).flatMap { case (c, t) =>
          Seq(StructField(s"min_$c", t), StructField(s"max_$c", t)) })
    Some((spark.createDataFrame(
      new java.util.ArrayList(rows.asJava), outSchema), scanThese))
  }

  /** Incremental maintenance: cluster ONLY the delta into new files and
    * union their per-file stats into the manifest — no re-read of the
    * existing table (at 100 TB the rebuild-on-every-write form pays a
    * full scan per batch; this pays delta bytes + one manifest
    * rewrite). The delta gets its own range-clustering, so its files
    * carry tight zones over the batch even though they interleave the
    * table's global order — zones are bounding boxes, never an ordering
    * contract, so reads stay exact either way (append ≡ rebuild on the
    * manifest is law-pinned in LakeMaintenanceSpec). Periodic [[write]]
    * re-clustering restores global file disjointness when batch overlap
    * accumulates.
    *
    * `batchId` makes a SUCCESSFUL append replay-safe (exactly-once for
    * streaming ingest, the [[VectorIndex.append]] convention): the
    * committed generation records the last absorbed id, and an append
    * at or below it is a no-op BEFORE any data lands. A crash
    * mid-append leaves orphan data files no manifest references —
    * invisible to every read — and the recovery replay appends fresh
    * files, so the guard composes with the manifest commit protocol to
    * exactly-once. Leave −1 for one-shot batch use. */
  def append(df: DataFrame, dir: String, clusterCol: String,
             statsCols: Seq[String], files: Int,
             batchId: Long = -1L): Unit = {
    require(statsCols.nonEmpty, "zone map needs at least one stats column")
    val spark = df.sparkSession
    val lastAbsorbed = lastBatchId(spark, dir)
    if (batchId >= 0 && lastAbsorbed >= batchId)
      return // replay: already absorbed
    val dataPath = new org.apache.hadoop.fs.Path(s"$dir/data")
    val fs = dataPath.getFileSystem(spark.sessionState.newHadoopConf())
    def dataFiles(): Set[String] =
      if (!fs.exists(dataPath)) Set.empty
      else fs.listStatus(dataPath).toSeq
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_")
          && !f.getPath.getName.startsWith("."))
        .map(_.getPath.getName).toSet
    val before = dataFiles()
    df.repartitionByRange(files, df.col(clusterCol))
      .sortWithinPartitions(clusterCol)
      .write.mode("append").parquet(s"$dir/data")
    val fresh = (dataFiles() -- before).toSeq.sorted
    if (fresh.isEmpty) return
    val freshPaths = fresh.map(n => fs.makeQualified(
      new org.apache.hadoop.fs.Path(s"$dir/data/$n")).toString)
    val freshStats = statsOf(spark, freshPaths, statsCols, df.schema)
    // star-stats maintenance is AUTOMATIC: when the previous generation
    // carries sketches, the delta batch is sketched over the same column
    // set (one delta-sized agg OVER THE FILES JUST WRITTEN — re-running
    // a non-deterministic `df` could sketch rows other than the ones
    // that landed) and theta-UNIONED driver-side — the mergeability the
    // sketch family exists for; n_rows adds exactly
    val mergedStar = starStats(spark, dir).map { prev =>
      val prevRows = prev.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getAs[Array[Byte]](2))).toSeq
      val cols = prevRows.map(_._1)
      val delta = computeStarStats(spark.read.parquet(freshPaths: _*), cols)
        .map(r => r._1 -> r).toMap
      prevRows.map { case (c, n, sk) =>
        val (_, dn, dsk) = delta(c)
        val u = org.apache.datasketches.theta.SetOperation.builder()
          .setLogNominalEntries(StarLgK).buildUnion()
        u.union(org.apache.datasketches.theta.CompactSketch.heapify(
          org.apache.datasketches.memory.Memory.wrap(sk)))
        u.union(org.apache.datasketches.theta.CompactSketch.heapify(
          org.apache.datasketches.memory.Memory.wrap(dsk)))
        (c, n + dn, u.getResult.toByteArray)
      }
    }
    // the merged manifest lands as a NEW committed generation: no
    // overwrite-while-reading, and a crash mid-write leaves the prior
    // manifest (not a torn one) servable. The batch stamp carries the
    // MAX of old and new so batch (-1) and streaming appends interleave
    // without regressing the guard.
    publishManifest(spark, dir, manifest(spark, dir).unionByName(freshStats),
      df.schema, math.max(lastAbsorbed, batchId),
      mergedStar.map(starStatsDf(spark, _)))
    mergedStar.foreach(registerStarStats(spark, dir, _))
  }

  /** Data-layout compaction for an append-grown table: rewrite the
    * CURRENT manifested rows as one fresh `targetFiles`-file global
    * re-clustering (restoring the file disjointness per-batch appends
    * erode), landed BESIDE the old files, then publish a manifest
    * referencing only the new set. Readers stay correct throughout —
    * they resolve committed manifests, and the superseded files remain
    * on disk for any in-flight read until [[vacuumData]] reclaims them.
    * The batch stamp carries forward, so compaction commutes with the
    * streaming replay guard. The index-side analog is
    * [[VectorIndex.compact]]. */
  def compact(spark: SparkSession, dir: String, clusterCol: String,
              statsCols: Seq[String], targetFiles: Int): Unit = {
    val kept = manifest(spark, dir)
      .select("file").collect().map(_.getString(0)).toSeq
    if (kept.isEmpty) return
    val current = spark.read.parquet(kept: _*)
    val before = listDataFiles(spark, dir).map(fileName).toSet
    current.repartitionByRange(targetFiles, current.col(clusterCol))
      .sortWithinPartitions(clusterCol)
      .write.mode("append").parquet(s"$dir/data")
    val fresh = listDataFiles(spark, dir)
      .filterNot(p => before.contains(fileName(p)))
    // star stats carry forward VERBATIM: compaction is a data-layout
    // no-op, the key sets (and so the sketches) are unchanged
    publishManifest(spark, dir,
      statsOf(spark, fresh, statsCols, current.schema), current.schema,
      lastBatchId(spark, dir),
      starStats(spark, dir).map { prev =>
        starStatsDf(spark, prev.collect().map(r =>
          (r.getString(0), r.getLong(1), r.getAs[Array[Byte]](2))).toSeq)
      })
  }

  /** Reclaim every file under `data/` the newest committed manifest
    * does not reference — superseded [[compact]] inputs and dead
    * writers' orphan appends. Readers pinned to a SUPERSEDED manifest
    * mid-flight can lose files (the standard vacuum caveat everywhere
    * in the engine — schedule with a retention delay in production).
    * Returns the deleted file names. */
  def vacuumData(spark: SparkSession, dir: String): Seq[String] = {
    val referenced = manifest(spark, dir)
      .select("file").collect().map(r => fileName(r.getString(0))).toSet
    val fs = zfsOf(spark, new org.apache.hadoop.fs.Path(s"$dir/data"))
    listDataFiles(spark, dir)
      .filterNot(p => referenced.contains(fileName(p)))
      .map { p =>
        fs.delete(new org.apache.hadoop.fs.Path(p), false)
        fileName(p)
      }
  }

  /** Last path segment — manifest `file` entries and directory listings
    * render the same file with different URI prefixes (`file:///` vs
    * `file:/`), so identity comparisons go by name (part-file names
    * carry a task UUID and cannot collide). */
  private def fileName(p: String): String =
    p.substring(p.lastIndexOf('/') + 1)

  /** Files whose `[min, max]` zone intersects `[lo, hi]`, with the
    * total file count — the skipping decision, exposed for tests and
    * observability. Manifest-sized work: one small read, a file-count
    * list on the driver (the same object any manifest reader holds). */
  def survivingFiles(spark: SparkSession, dir: String, statsCol: String,
                     lo: Column, hi: Column): (Seq[String], Long) =
    survivingFilesMulti(spark, dir, Seq((statsCol, lo, hi)))

  /** Range read through the manifest: only intersecting files are opened;
    * the exact predicate is re-applied to the survivors (zones are
    * bounding boxes, not membership proofs). An empty survivor set
    * degrades to an empty frame of the table's schema, not an error. */
  def prunedRead(spark: SparkSession, dir: String, statsCol: String,
                 lo: Column, hi: Column): DataFrame =
    prunedReadMulti(spark, dir, Seq((statsCol, lo, hi)))

  /** Multi-column zone intersection: a file survives only if EVERY
    * predicate's `[lo, hi]` intersects that column's zone — the read
    * half of [[LakeMaintenance.zOrderBy]], where locality exists in
    * every clustered dimension at once, so a conjunctive range filter
    * multiplies the per-column skip rates instead of leaning on one
    * leading column. Works over any manifest whose statsCols cover the
    * queried columns (a [[writeZOrdered]] table, or a linear
    * [[write]]'s secondary column — correct either way, selective only
    * where the layout gives the column locality). */
  def survivingFilesMulti(spark: SparkSession, dir: String,
                          preds: Seq[(String, Column, Column)]): (Seq[String], Long) =
    surviving(manifest(spark, dir), preds)

  private def surviving(manifest: DataFrame,
                        preds: Seq[(String, Column, Column)]): (Seq[String], Long) = {
    require(preds.nonEmpty, "give at least one (column, lo, hi) predicate")
    val keep = preds.map { case (c, lo, hi) =>
      !(col(s"max_$c") < lo || col(s"min_$c") > hi)
    }.reduce(_ && _)
    // one collect serves both the total and the survivor list (r20,
    // guide §5: the count + filtered collect pair was two jobs over the
    // same tiny manifest). A null verdict (all-null stats column) reads
    // as not-kept, exactly as the former `.where(keep)` dropped it.
    val rows = manifest.select(col("file"), keep.as("__keep")).collect()
    val kept = rows.collect {
      case r if !r.isNullAt(1) && r.getBoolean(1) => r.getString(0)
    }.toSeq
    (kept, rows.length.toLong)
  }

  /** Conjunctive range read: open only files whose zones intersect ALL
    * predicates, then re-apply the exact conjunction. */
  def prunedReadMulti(spark: SparkSession, dir: String,
                      preds: Seq[(String, Column, Column)]): DataFrame = {
    // one resolution of the live generation serves the manifest and the
    // recorded table schema: no inference job over the survivors, and
    // the full-table frame exists only for the empty-survivor fallback
    // (r20, guide §6)
    val (gen, commit) = live(spark, dir)
    val (kept, _) = surviving(manifestOf(spark, gen, commit), preds)
    val rd = spark.read.schema(ddlOf(commit, "table"))
    val base = if (kept.isEmpty) rd.parquet(s"$dir/data").limit(0)
               else rd.parquet(kept: _*)
    preds.foldLeft(base) { case (df, (c, lo, hi)) =>
      df.where(col(c) >= lo && col(c) <= hi)
    }
  }

  /** Z-order the table across `clusterCols` (locality in EVERY listed
    * dimension — [[LakeMaintenance.zOrderBy]]) and persist per-file
    * zones for `statsCols`, so [[prunedReadMulti]] skips files on any
    * conjunction of the clustered columns. Fresh-directory form (the
    * multi-dimensional counterpart of [[write]]'s else-branch). */
  def writeZOrdered(df: DataFrame, dir: String, clusterCols: Seq[String],
                    statsCols: Seq[String], files: Int): Unit = {
    require(statsCols.nonEmpty, "zone map needs at least one stats column")
    val spark = df.sparkSession
    LakeMaintenance.zOrderBy(df, s"$dir/data", clusterCols, files)
    publishManifest(spark, dir,
      statsOf(spark, listDataFiles(spark, dir), statsCols, df.schema), df.schema)
  }

  // ---- versioned zone-mapped tables: time travel × data skipping ------
  // The composition the snapshot family and the zone maps were built
  // for: each committed version is an immutable clustered table WITH its
  // own per-file manifest, so a pinned historical read skips files
  // exactly like the live one. Versions are [[Generations]] under the
  // root: `v=<n>/` is claimed first and invisible until its commit
  // lands, after data + manifest — a writer dying mid-version leaves a
  // torn dir no reader ever serves, and racing writers land distinct
  // versions.

  /** Committed versions under `root`, ascending. */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val r = new org.apache.hadoop.fs.Path(root)
    Generations.committed(zfsOf(spark, r), r)
  }

  /** Land `df` as the next committed zone-mapped version. */
  def writeVersion(df: DataFrame, root: String, clusterCol: String,
                   statsCols: Seq[String], files: Int): Long = {
    val r = new org.apache.hadoop.fs.Path(root)
    val fs = zfsOf(df.sparkSession, r)
    val n = Generations.claim(fs, r)
    write(df, Generations.dir(r, n).toString, clusterCol, statsCols, files)
    Generations.commit(fs, r, n, org.json4s.JObject())
    n
  }

  /** Zone-map-pruned range read of a pinned version (latest when
    * `version < 0`): historical data keeps its skipping. */
  def prunedReadVersion(spark: SparkSession, root: String, statsCol: String,
                        lo: Column, hi: Column,
                        version: Long = -1L): DataFrame = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed zone-mapped versions under $root")
    val v = if (version < 0) vs.last else version
    require(vs.contains(v), s"version $v not in $vs")
    prunedRead(spark, Generations.dir(new org.apache.hadoop.fs.Path(root), v).toString,
      statsCol, lo, hi)
  }
}
