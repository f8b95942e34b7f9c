package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.pipelines.Sparkify

/** Direct parity against the reference's committed golden outputs
  * (the tables under `/root/reference/testing/results`, generated by
  * `testing/etl_og.py`). The original JSON inputs are not committed, so a
  * full input-to-output replay is impossible — but the golden tables are
  * still row-level verifiable:
  *
  *  - every derived column of `time` and the `year`/`month` of
  *    `songplays` is a pure function of `start_time`, so re-deriving them
  *    with the ENGINE's expressions from the golden timestamps and
  *    demanding exact equality checks the whole derivation chain
  *    (including the weekday-UDF-to-`date_format` replacement) on the
  *    reference's own data;
  *  - the fact table's keys must resolve in the golden dims exactly as
  *    the reference's joins produced them;
  *  - the engine's writer schemas must round-trip to the same read-back
  *    schemas as the golden dirs (names, types, partition columns). That
  *    test reads the golden schemas measured in SURVEY.md §1, vendored as
  *    the `sparkify_golden_schemas.tsv` test resource, so it needs no
  *    golden parquet.
  *
  * The golden derivations are UTC+2 (the writer machine's zone —
  * SURVEY.md §1); `GoldenTz` parameterizes that, and the last test pins
  * that the engine's `sessionTz` knob reproduces it while the UTC
  * default diverges — the one documented semantic divergence, now
  * closed by configuration. */
class SparkifyGoldenSpec extends AnyFunSuite {
  import TestSpark._

  private val goldenDir = "/root/reference/testing/results"
  private def golden(t: String) = spark.read.parquet(s"$goldenDir/$t")
  private val GoldenTz = "+02:00"

  // engine outputs on the miniature fixture, for schema round-trip parity
  private lazy val ourDir: String = {
    val in = Files.createTempDirectory("sparkify_gin").toString
    val out = Files.createTempDirectory("sparkify_gout").toString
    SparkifyFixtures.write(in)
    Sparkify.run(spark, Sparkify.Config(in, out))
    out
  }

  private lazy val goldenSchemas: Map[String, StructType] = {
    val src = scala.io.Source.fromResource("sparkify_golden_schemas.tsv",
      getClass.getClassLoader)
    try src.getLines().filterNot(l => l.isBlank || l.startsWith("#")).map { l =>
      val Array(table, ddl) = l.split("\t", 2)
      table -> StructType.fromDDL(ddl)
    }.toMap finally src.close()
  }

  test("writer schemas round-trip identically to the golden dirs") {
    for (t <- Seq("songs", "artists", "users", "time", "songplays")) {
      val g = goldenSchemas(t).map(f => f.name -> f.dataType).toMap
      val o = spark.read.parquet(s"$ourDir/$t").schema
        .map(f => f.name -> f.dataType).toMap
      assert(o === g, s"table $t: engine schema != golden schema")
    }
  }

  test("time: engine derivations reproduce every golden row under the golden TZ") {
    val g = golden("time")
    val cols = Seq("start_time", "hour", "day", "week", "weekday", "year", "month")
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    val (re, gRows) = Sparkify.withSessionTz(spark, Some(GoldenTz)) {
      val derived = Sparkify.timeTable(
        g.select(col("start_time").as("ts_timestamp")))
      (canon(derived), canon(g))
    }
    assert(re.nonEmpty)
    assert(re === gRows, "re-derived time rows != golden rows")
    // and the same derivation under UTC must NOT match (the divergence
    // the sessionTz knob exists to close): hours shift by 2
    val utcHours = Sparkify.timeTable(
        g.select(col("start_time").as("ts_timestamp")))
      .select("start_time", "hour")
      .collect().map(r => r.getTimestamp(0) -> r.getInt(1)).toMap
    val goldenHours = g.select("start_time", "hour")
      .collect().map(r => r.getTimestamp(0) -> r.getInt(1)).toMap
    assert(goldenHours.forall { case (ts, h) => (utcHours(ts) + 2) % 24 == h },
      "golden hours should sit exactly +2 from UTC-derived hours")
  }

  test("songplays: partition year/month are the golden-TZ date parts of start_time") {
    val sp = golden("songplays")
    val bad = Sparkify.withSessionTz(spark, Some(GoldenTz)) {
      sp.where(col("year") =!= year(col("start_time")) ||
          col("month") =!= month(col("start_time"))).count()
    }
    assert(bad === 0)
    assert(sp.count() > 0)
  }

  test("songplays: keys resolve in the golden dims exactly as the joins demand") {
    val sp = golden("songplays")
    val songs = golden("songs").select("song_id").distinct()
    val artists = golden("artists").select("artist_id").distinct()
    // inner song join => song_id always present and resolvable
    assert(sp.where(col("song_id").isNull).count() === 0)
    assert(sp.join(songs, Seq("song_id"), "left_anti").count() === 0)
    // left artist join => artist_id either null or resolvable
    assert(sp.where(col("artist_id").isNotNull)
      .join(artists, Seq("artist_id"), "left_anti").count() === 0)
    // distinct applied (etl.py:169)
    assert(sp.distinct().count() === sp.count())
  }

  test("users/songs/artists golden tables satisfy the engine's dedup invariants") {
    for (t <- Seq("users", "songs", "artists"))
      assert(golden(t).distinct().count() === golden(t).count(),
        s"golden $t should be distinct (etl.py:42,58,91)")
    // time is deliberately NOT distinct (one row per event)
    val time = golden("time")
    assert(time.count() >= time.distinct().count())
  }

  test("sessionTz knob shifts the fixture pipeline's hour derivation by the offset") {
    val in = Files.createTempDirectory("sparkify_tzin").toString
    val outTz = Files.createTempDirectory("sparkify_tzout").toString
    SparkifyFixtures.write(in)
    Sparkify.run(spark, Sparkify.Config(in, outTz, sessionTz = Some(GoldenTz)))
    val utc = spark.read.parquet(s"$ourDir/time")
      .select("start_time", "hour")
      .collect().map(r => r.getTimestamp(0).getTime -> r.getInt(1)).toMap
    val tz = spark.read.parquet(s"$outTz/time")
      .select("start_time", "hour")
      .collect().map(r => r.getTimestamp(0).getTime -> r.getInt(1))
    assert(tz.nonEmpty)
    assert(tz.forall { case (ms, h) => h == (utc(ms) + 2) % 24 },
      "sessionTz=+02:00 must shift every derived hour by exactly 2")
  }
}
