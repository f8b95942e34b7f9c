package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference workload re-expressed Spark-first: two JSON datasets in,
  * one star schema (4 dims + 1 fact) of Parquet tables out.
  *
  * Semantics reproduced from the reference `etl.py` (cited per step), with
  * four deliberate engineering divergences (the first three documented in
  * SURVEY.md):
  *  1. explicit schemas instead of inference (reference `etl.py:36,78`
  *     infers — an extra full scan at 100 TB; `inferSchema=true` restores
  *     parity mode);
  *  2. the Python weekday UDF (reference `etl.py:104-112`) becomes the
  *     built-in `date_format(_, "EEEE")` — no executor<->Python round trip;
  *  3. the OR-predicate artist join (reference `etl.py:147-151`) keeps
  *     the reference's verbatim predicate, which stock Catalyst can only
  *     nested-loop; [[graft.plans.OrEquiJoinRule]], armed by
  *     [[graft.GraftSession]], plans it as hash-joinable branches
  *     (multiset-identical). The pipeline therefore expects a
  *     `GraftSession`-configured session: on a bare session it still
  *     gives the same rows, through a BroadcastNestedLoopJoin;
  *  4. write distribution and listing: `songs` and `songplays` are
  *     hash-distributed by their partition columns into an explicit
  *     `defaultParallelism` partitions (not the reference's column-only
  *     `repartition`, `etl.py:169-173`, which AQE coalesces into one task
  *     on a small input), so each Hive directory is still one file but the
  *     directories are written side by side; and input globs are listed
  *     on the driver (`GraftSession`'s partition-discovery threshold)
  *     instead of through a listing job. On the 100-song, 8000-event
  *     benchmark input (local[4]) the songs write went from 1 task in
  *     1.54 s to 4 tasks in 0.77 s, the two 78–84-task listing jobs of
  *     0.5–0.7 s each are gone, and the written bytes are unchanged.
  *
  * Load-bearing quirks kept intact:
  *  - `start_time` is truncated to whole seconds by the reference's
  *    `to_timestamp(from_unixtime(ts/1000))` chain (`etl.py:98-102`) —
  *    reproduced, NOT replaced by `timestamp_millis` which would keep ms;
  *  - `songs` is read back for the fact join through a leaf-file glob
  *    (`etl.py:139`) which does NOT reconstruct partition columns, so the
  *    join input is exactly `[song_id, title, duration]` — this is what
  *    makes the later unqualified `year`/`month` references resolve to
  *    the time table;
  *  - `time` carries one row per event (no distinct — only songs,
  *    artists, users and songplays deduplicate: `etl.py:42,58,91,169`).
  */
object Sparkify {

  /** Song-file schema frozen to what inference yields on the public
    * dataset (FIXTURES.md §A). */
  val songSchema: StructType = StructType(Seq(
    StructField("song_id", StringType), StructField("title", StringType),
    StructField("artist_id", StringType), StructField("year", LongType),
    StructField("duration", DoubleType), StructField("artist_name", StringType),
    StructField("artist_location", StringType),
    StructField("artist_latitude", DoubleType),
    StructField("artist_longitude", DoubleType),
    StructField("num_songs", LongType)))

  /** Log-event schema (newline-delimited JSON). `userId` is a quoted
    * string in the source and must stay string (FIXTURES.md §A). */
  val logSchema: StructType = StructType(Seq(
    StructField("page", StringType), StructField("userId", StringType),
    StructField("firstName", StringType), StructField("lastName", StringType),
    StructField("gender", StringType), StructField("level", StringType),
    StructField("ts", LongType), StructField("song", StringType),
    StructField("artist", StringType), StructField("location", StringType),
    StructField("sessionId", LongType), StructField("userAgent", StringType),
    StructField("auth", StringType), StructField("method", StringType),
    StructField("status", LongType), StructField("itemInSession", LongType),
    StructField("length", DoubleType), StructField("registration", DoubleType)))

  /** `sessionTz`: zone for date-part derivations (hour/day/week/...).
    * The reference pipeline inherited the writer machine's local zone —
    * its golden outputs are UTC+2-derived (SURVEY.md §1) — while the
    * engine pins UTC by default. `Some("+02:00")` reproduces the golden
    * derivations exactly (SparkifyGoldenSpec proves it row-level). */
  final case class Config(
      inputData: String, outputData: String,
      inferSchema: Boolean = false, sessionTz: Option[String] = None)

  /** Run `f` with the session time zone overridden, restoring after. */
  def withSessionTz[T](spark: SparkSession, tz: Option[String])(f: => T): T =
    tz match {
      case None => f
      case Some(z) =>
        val key = "spark.sql.session.timeZone"
        val old = spark.conf.get(key)
        spark.conf.set(key, z)
        try f finally spark.conf.set(key, old)
    }

  private def readJson(spark: SparkSession, path: String,
                       schema: StructType, infer: Boolean): DataFrame =
    if (infer) spark.read.json(path)
    else spark.read.schema(schema).json(path)

  /** Reference `etl.py:98-102`: epoch-ms -> second-truncated timestamp.
    * `from_unixtime` is whole-second; the explicit long cast reproduces
    * the truncation (`.SSS` in the reference always renders `.000`). */
  def tsTimestamp(tsMillis: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    to_timestamp(from_unixtime((tsMillis / 1000).cast(LongType),
      "yyyy-MM-dd HH:mm:ss.SSS"))

  /** Hash-distributes `df` by a table's partition columns into exactly
    * `defaultParallelism` partitions, ahead of a `partitionBy` write on
    * the same columns: each Hive directory is then written by one task,
    * as one file, and the tasks run side by side. The count must be
    * explicit — AQE coalesces a small `repartition(cols)` into a single
    * partition, whose one task writes every directory in turn, but it
    * never coalesces an explicit count. */
  private def distributeByPartitionCols(df: DataFrame,
                                        partitionCols: String*): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism,
      partitionCols.map(col): _*)

  /** Pipeline 1 — reference `process_song_data` (`etl.py:23-62`). */
  def processSongData(spark: SparkSession, cfg: Config): Unit = {
    val df = readJson(spark, s"${cfg.inputData}/song_data/*/*/*",
      songSchema, cfg.inferSchema)

    // songs: select, distinct, partitioned write (etl.py:39-48). The
    // distribution sits BEFORE the distinct: its hash partitioning on
    // (year, artist_id) already clusters the distinct's keys, so the
    // aggregate adds no exchange of its own.
    distributeByPartitionCols(
        df.select("song_id", "title", "artist_id", "year", "duration"),
        "year", "artist_id")
      .distinct()
      .write.mode("overwrite").partitionBy("year", "artist_id")
      .parquet(s"${cfg.outputData}/songs")

    // artists: aliased projection, distinct (etl.py:51-62)
    df.select(
        col("artist_id"), col("artist_name").as("name"),
        col("artist_location").as("location"),
        col("artist_latitude").as("latitude"),
        col("artist_longitude").as("longitude"))
      .distinct()
      .write.mode("overwrite").parquet(s"${cfg.outputData}/artists")
  }

  /** The time dimension derivation (etl.py:115-131), weekday via
    * `date_format` instead of the reference's Python UDF. One row per
    * event — deliberately not distinct. */
  def timeTable(logs: DataFrame): DataFrame =
    logs.select(col("ts_timestamp").as("start_time"))
      .withColumn("hour", hour(col("start_time")))
      .withColumn("day", dayofmonth(col("start_time")))
      .withColumn("week", weekofyear(col("start_time")))
      .withColumn("month", month(col("start_time")))
      .withColumn("year", year(col("start_time")))
      .withColumn("weekday", date_format(col("start_time"), "EEEE"))
      .select("start_time", "hour", "day", "week", "weekday", "year", "month")

  /** Pipeline 2 — reference `process_log_data` (`etl.py:65-173`). */
  def processLogData(spark: SparkSession, cfg: Config): Unit = {
    val raw = readJson(spark, s"${cfg.inputData}/log_data/*/*",
      logSchema, cfg.inferSchema)
    // F1 filter (etl.py:81)
    val logs = raw.where(col("page") === "NextSong")

    // users (etl.py:84-95): keeps one row per (user, level) epoch — a user
    // that upgraded appears twice, matching the golden 104-row table
    logs.select(
        col("userId").as("user_id"), col("firstName").as("first_name"),
        col("lastName").as("last_name"), col("gender"), col("level"))
      .distinct()
      .write.mode("overwrite").parquet(s"${cfg.outputData}/users")

    val withTs = logs.withColumn("ts_timestamp", tsTimestamp(col("ts")))
    val time = timeTable(withTs)
    time
      .write.mode("overwrite").partitionBy("year", "month")
      .parquet(s"${cfg.outputData}/time")

    // songs read-back through the LEAF-FILE GLOB (etl.py:139): partition
    // columns are not reconstructed -> [song_id, title, duration] only.
    val songsDf = spark.read.parquet(s"${cfg.outputData}/songs/*/*/*")
    val artistsDf = spark.read.parquet(s"${cfg.outputData}/artists")

    // J1 inner join on song title (etl.py:140)
    val songsLogs = withTs.join(songsDf, withTs("song") === songsDf("title"), "inner")

    // J2 OR-predicate left join to artists (etl.py:147-151), rewritten by
    // the session's OrEquiJoinRule. The reference disambiguates the two
    // `location` columns with dataframe aliases (`etl.py:147,165`); we
    // rename the artist-side one instead — invisible in the output
    // (songplays keeps the log-side location) and the later unqualified
    // `location` reference stays unambiguous.
    val artistsR = artistsDf.withColumnRenamed("location", "artist_location_dim")
    val artistsSongsLogs = songsLogs.join(artistsR,
      songsLogs("artist") === artistsR("name") ||
        songsLogs("location") === artistsR("artist_location_dim"), "left")

    // J3 left join to the in-memory time table (etl.py:152-155), final
    // projection (etl.py:158-168), distinct + repartition + partitioned
    // write (etl.py:169-173)
    val songplays = artistsSongsLogs
      .join(time, col("ts_timestamp") === time("start_time"), "left")
      .select(
        col("start_time"), col("userId").as("user_id"),
        col("level"), col("song_id"), col("artist_id"),
        col("sessionId").as("session_id"), col("location"),
        col("userAgent").as("user_agent"), col("year"), col("month"))
      .distinct()
    distributeByPartitionCols(songplays, "year", "month")
      .write.mode("overwrite").partitionBy("year", "month")
      .parquet(s"${cfg.outputData}/songplays")
  }

  /** Full run — the reference's `main` (`etl.py:186-199`) minus the cloud
    * provisioning, as one spark-submit-able entry point. */
  def run(spark: SparkSession, cfg: Config): Unit =
    withSessionTz(spark, cfg.sessionTz) {
      processSongData(spark, cfg)
      processLogData(spark, cfg)
    }

  /** CLI with the reference's parameter surface (`etl.py:194-199`):
    * `--root_bucket B --input_data I --step_app_name N` — output goes to
    * `B/tables` exactly as the reference derives it — or plain positional
    * `<input> <output>`. */
  def main(args: Array[String]): Unit = {
    val named = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
    val (input, output, appName) =
      if (named.contains("input_data") || named.contains("root_bucket")) {
        val in = named.getOrElse("input_data",
          sys.error("--input_data is required with named arguments"))
        val out = named.get("root_bucket").map(b => s"$b/tables")
          .getOrElse(sys.error("--root_bucket is required with named arguments"))
        (in, out, named.getOrElse("step_app_name", "sparkify"))
      } else {
        val Array(in, out) = args
        (in, out, "sparkify")
      }
    val spark = graft.GraftSession.local(appName)
    run(spark, Config(input, output))
    spark.stop()
  }
}
