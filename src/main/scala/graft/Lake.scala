package graft

import java.lang.ref.WeakReference

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.TemporaryViewRelation

/** Path-convention data lake: a directory of Parquet tables, no metastore.
  *
  * Mirrors the reference's storage model — "tables" are just object-store
  * prefixes holding Parquet files (reference `buckets_dropcreate.py:51`
  * creates `tables/{songs,artists,...}/` key prefixes; `etl.py:46-48`
  * writes Hive-partitioned Parquet under them). Here each driver-generated
  * test table is a single `name.parquet` directory under `dir`.
  *
  * At 100 TB these same calls read partitioned/multi-file datasets —
  * `spark.read.parquet` handles directory trees, partition discovery and
  * pruning without code changes here.
  */
final case class Lake(spark: SparkSession, dir: String) {
  def table(name: String): DataFrame = Lake.read(spark, s"$dir/$name.parquet")

  def region: DataFrame     = table("region")
  def nation: DataFrame     = table("nation")
  def customer: DataFrame   = table("customer")
  def supplier: DataFrame   = table("supplier")
  def part: DataFrame       = table("part")
  def orders: DataFrame     = table("orders")
  def lineitem: DataFrame   = table("lineitem")

  /** `events` with `ts` normalized to `TimestampType` (µs precision,
    * UTC session). The feed has shipped in two physical generations —
    * epoch-nanos BIGINT and native Parquet TIMESTAMP(MICROS) — so the
    * schema is adapted here, once, and every consumer sees one type.
    * Integer `DIV` for the legacy branch is load-bearing: epoch-nanos
    * (~1.7e18) overflow the 53-bit double mantissa, so float division
    * would corrupt the low microsecond digits. */
  def events: DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val df = table("events")
    df.schema("ts").dataType match {
      case LongType      => df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampType => df
      case _             => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents: DataFrame  = table("documents")
  def embeddings: DataFrame = table("embeddings")

  /** Register every table as a temp view — the SQL-text surface. A view
    * that is still current is kept ([[Lake.registerViews]]). */
  def registerViews(): Unit = Lake.registerViews(spark, dir)
}

object Lake {
  val tableNames: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  /** JVM-wide parquet SCHEMA cache keyed on the table's file fingerprint
    * (every leaf file's name, length, mtime — folded into one long).
    *
    * `spark.read.parquet(path)` infers the schema EAGERLY with a 1-task
    * Spark job per call; a query fn that registers the ten lake views
    * pays ten such jobs per invocation (profiled on q99: its entire
    * build phase was exactly those jobs), and every bench rep and oracle
    * run repeats them. This caches only METADATA — the inferred
    * StructType, exactly what a manifest-bearing table format (Iceberg/
    * Delta) persists so readers never re-infer (guide §6) — never data
    * or results: a changed/regenerated table changes its fingerprint and
    * re-infers, and cache hits hand the schema to `spark.read.schema(…)`
    * over the same files, so every invocation still computes from the
    * parquet inputs.
    *
    * Known caveat (ADVICE r19): the fingerprint is name+length+mtime per
    * leaf file (plus file count via the fold), so an IN-PLACE rewrite
    * that keeps every file name, byte length, and mtime millisecond
    * would serve a stale schema. None of the engine's own write paths
    * can produce that — they write fresh part-file names (UUID-suffixed)
    * into the directory, which changes both the name fold and the count
    * — and parquet files with different schemas virtually never collide
    * on exact byte length. If an external writer ever rewrites tables
    * in place, fold a content hint (footer length / checksum mtime)
    * into the fingerprint. The same caveat holds for the view memo of
    * [[registerViews]]: such a rewrite keeps the registered view, whose
    * file index still lists the old files' lengths. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, org.apache.spark.sql.types.StructType)]()

  /** DDL with every field relaxed to nullable — exactly the shape parquet
    * schema inference reports, so a recorded-schema read plans
    * identically to an inferred one (same downstream nullability, same
    * output schema). Shared by the manifest-bearing writers (VectorIndex,
    * ZoneMapTable) that record their schemas at write time (guide §6). */
  private[graft] def nullableDDL(s: org.apache.spark.sql.types.StructType): String = {
    import org.apache.spark.sql.types._
    def relax(dt: DataType): DataType = dt match {
      case st: StructType =>
        StructType(st.fields.map(f =>
          f.copy(dataType = relax(f.dataType), nullable = true)))
      case at: ArrayType => ArrayType(relax(at.elementType), containsNull = true)
      case mt: MapType =>
        MapType(relax(mt.keyType), relax(mt.valueType), valueContainsNull = true)
      case other => other
    }
    relax(s).asInstanceOf[StructType].toDDL
  }

  private[graft] def read(spark: SparkSession, path: String): DataFrame =
    read(spark, path, fingerprint(spark, path))

  private def read(spark: SparkSession, path: String, fp: Long): DataFrame = {
    if (fp == 0L) return spark.read.parquet(path) // unlistable: hands off
    val cached = schemaCache.get(path)
    if (cached != null && cached._1 == fp)
      spark.read.schema(cached._2).parquet(path)
    else {
      val df = spark.read.parquet(path)
      schemaCache.put(path, (fp, df.schema))
      df
    }
  }

  /** Per session, each lake name's (table path, fingerprint, the temp
    * view registered for it). Weak session keys, as `mvSession`'s
    * children; the view is held weakly too, since its plan references the
    * session. */
  private val views = scala.collection.mutable.WeakHashMap.empty[SparkSession,
    scala.collection.mutable.Map[String, (String, Long, WeakReference[TemporaryViewRelation])]]

  /** Register every table under `dir` as a temp view of `spark`, keeping
    * each view that is still current: the session's view is still the
    * exact relation this method registered (`eq`), for the same path,
    * and the table's [[fingerprint]] is unchanged and non-zero. A
    * registration runs a command and its analysis: the ten of them took
    * about 0.2 s of each q86 and q99 call at sf0.001 on a 4-CPU machine,
    * while keeping a view costs one listing. A view the caller replaced
    * or dropped, a rewritten table and another session all register
    * afresh. */
  private[graft] def registerViews(spark: SparkSession, dir: String): Unit = {
    val catalog = spark.sessionState.catalog
    val registered = views.synchronized(
      views.getOrElseUpdate(spark, scala.collection.mutable.Map.empty))
    registered.synchronized {
      tableNames.foreach { n =>
        val path = s"$dir/$n.parquet"
        val fp = fingerprint(spark, path)
        val current = fp != 0L && registered.get(n).exists { case (p, f, v) =>
          p == path && f == fp && catalog.getRawTempView(n).exists(_ eq v.get)
        }
        if (!current) {
          read(spark, path, fp).createOrReplaceTempView(n)
          registered(n) = (path, fp, new WeakReference(catalog.getRawTempView(n).orNull))
        }
      }
    }
  }

  private def fingerprint(spark: SparkSession, path: String): Long = {
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val it = fs.listFiles(p, true)
      var h = 1125899906842597L
      var n = 0
      while (it.hasNext) {
        val f = it.next()
        if (!f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith(".")) {
          h = h * 31 + f.getPath.getName.hashCode
          h = h * 31 + f.getLen
          h = h * 31 + f.getModificationTime
          n += 1
        }
      }
      if (n == 0) 0L else h
    } catch { case _: Exception => 0L }
  }
}
