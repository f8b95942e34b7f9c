package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.GraftTestSparkBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.pipelines.Sparkify

/** End-to-end parity tests for the Sparkify pipeline against the semantic
  * invariants measured from the reference's golden outputs (SURVEY.md §1,
  * §5; FIXTURES.md §B). */
class SparkifySpec extends AnyFunSuite {
  import TestSpark._

  private lazy val outDir: String = {
    val in = Files.createTempDirectory("sparkify_in").toString
    val out = Files.createTempDirectory("sparkify_out").toString
    SparkifyFixtures.write(in)
    Sparkify.run(spark, Sparkify.Config(in, out))
    out
  }
  private def read(t: String) = spark.read.parquet(s"$outDir/$t")

  test("songs: distinct rows, partitioned by year/artist_id") {
    val songs = read("songs")
    assert(songs.count() === 3) // duplicate SO1 file collapsed
    assert(songs.columns.toSet ===
      Set("song_id", "title", "duration", "year", "artist_id"))
    // partition dirs exist (dynamic-partition write, etl.py:46-48)
    assert(Files.exists(java.nio.file.Paths.get(s"$outDir/songs/year=1994")))
  }

  test("songs and songplays: every leaf directory holds exactly one file") {
    def children(d: Path): List[Path] =
      scala.util.Using.resource(Files.list(d))(_.iterator().asScala.toList)
    def leafDirs(root: Path): Seq[Path] = {
      val subdirs = children(root).filter(Files.isDirectory(_))
      if (subdirs.isEmpty) Seq(root) else subdirs.flatMap(leafDirs)
    }
    for (t <- Seq("songs", "songplays")) {
      val root = Paths.get(s"$outDir/$t")
      val leaves = leafDirs(root)
      assert(leaves.nonEmpty)
      for (d <- leaves) {
        assert(root.relativize(d).getNameCount === 2, s"$d is not a leaf partition")
        val parquet = children(d).count(_.getFileName.toString.endsWith(".parquet"))
        assert(parquet === 1, s"$d holds $parquet parquet files")
      }
    }
    assert(leafDirs(Paths.get(s"$outDir/songs")).size === 3)
  }

  test("songs: the partition directories are written by several tasks") {
    // the fixture's three (year, artist_id) values are hash-distributed
    // into defaultParallelism partitions, so the write's final stage runs
    // one task per partition instead of one task for every directory
    assume(spark.sparkContext.defaultParallelism >= 2, "needs local[N>=2]")
    val in = Files.createTempDirectory("sparkify_tasks_in").toString
    val out = Files.createTempDirectory("sparkify_tasks_out").toString
    SparkifyFixtures.write(in)
    val songsExecs = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int, Int)]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.physicalPlanDescription.contains(s"$out/songs") =>
          songsExecs.add(s.executionId)
        case _ =>
      }
      // (execution id, job id, tasks of the job's result stage)
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(id => jobs.add((id.toLong, j.jobId, j.stageInfos.maxBy(_.stageId).numTasks)))
    }
    val sc = spark.sparkContext
    GraftTestSparkBridge.waitListenerBusEmpty(sc)
    sc.addSparkListener(listener)
    try {
      Sparkify.processSongData(spark, Sparkify.Config(in, out))
      GraftTestSparkBridge.waitListenerBusEmpty(sc)
    } finally sc.removeSparkListener(listener)
    val songsJobs = jobs.asScala.toSeq.filter(j => songsExecs.contains(j._1))
    assert(songsJobs.nonEmpty, "no job of the songs write was seen")
    val finalTasks = songsJobs.maxBy(_._2)._3
    assert(finalTasks > 1, s"the songs write's final stage ran $finalTasks task(s)")
  }

  test("songs leaf-file glob read drops partition columns (etl.py:139 quirk)") {
    val globRead = spark.read.parquet(s"$outDir/songs/*/*/*")
    assert(globRead.columns.toSeq.sorted === Seq("duration", "song_id", "title"))
  }

  test("artists: aliased projection, distinct") {
    val artists = read("artists")
    assert(artists.columns.toSet ===
      Set("artist_id", "name", "location", "latitude", "longitude"))
    assert(artists.count() === 3)
  }

  test("users: one row per (user, level) — upgrades keep both rows") {
    val users = read("users")
    val u10 = users.where(col("user_id") === "10")
    assert(u10.count() === 2, "user 10 appears under free AND paid")
    assert(users.count() === 4)
  }

  test("time: one row per NextSong event (no distinct), seconds truncated") {
    val time = read("time")
    assert(time.count() === 6) // 7 events - 1 non-NextSong
    // 1542241826123 and ...826623 both truncate to :26.000
    val dupSecond = time.groupBy("start_time").count()
      .where(col("count") === 2)
    assert(dupSecond.count() === 1)
    val subSecond = time.where(
      (unix_micros(col("start_time")) % 1000000L) =!= 0).count()
    assert(subSecond === 0, "start_time must be whole-second")
  }

  test("time: weekday is the full English day name (UDF U1 via date_format)") {
    val time = read("time")
    val w = time.select("weekday").distinct().collect().map(_.getString(0)).toSet
    assert(w === Set("Thursday")) // 2018-11-15 UTC
  }

  test("songplays: matched, location-matched, and NULL-artist rows") {
    val sp = read("songplays")
    assert(sp.columns.toSet === Set("start_time", "user_id", "level",
      "song_id", "artist_id", "session_id", "location", "user_agent",
      "year", "month"))
    // title 'Setanta matins' matches SO1 and SO3 -> 2 artist-side rows for
    // the t0 event (AR1 by name for both song matches); duplicated-second
    // event collapsed by distinct into the same start_time... but distinct
    // keeps both song_ids. Assert the NULL-artist row survived:
    assert(sp.where(col("artist_id").isNull).count() > 0)
    // and the location-only match resolved AR1 (Dubai UAE)
    val byLoc = sp.where(col("location") === "Dubai UAE")
      .select("artist_id").collect().map(_.getString(0)).toSet
    assert(byLoc === Set("AR1"))
    // year/month come from the time table
    assert(sp.select("year").distinct().collect().map(_.getInt(0)).toSeq === Seq(2018))
  }

  test("songplays: the armed OR-join rule agrees with the disarmed nested loop") {
    val key = graft.plans.OrEquiJoinRule.ConfKey
    val prev = spark.conf.get(key)
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        executed.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // (output dir, executed plan of its songplays write)
    def run(armed: Boolean): (String, String) = {
      val in = Files.createTempDirectory("sparkify_orj_in").toString
      val out = Files.createTempDirectory("sparkify_orj_out").toString
      SparkifyFixtures.write(in)
      spark.conf.set(key, armed.toString)
      try Sparkify.run(spark, Sparkify.Config(in, out))
      finally spark.conf.set(key, prev)
      GraftTestSparkBridge.waitListenerBusEmpty(spark.sparkContext)
      (out, executed.asScala.filter(_.contains(s"$out/songplays")).mkString("\n"))
    }
    spark.listenerManager.register(listener)
    val ((armedOut, armedPlan), (loopOut, loopPlan)) =
      try (run(armed = true), run(armed = false))
      finally spark.listenerManager.unregister(listener)
    assert(loopPlan.contains("BroadcastNestedLoopJoin"), loopPlan)
    assert(armedPlan.nonEmpty && !armedPlan.contains("BroadcastNestedLoopJoin"), armedPlan)
    def canon(dir: String) = {
      val df = spark.read.parquet(s"$dir/songplays")
      val cols = df.columns.sorted.toSeq
      df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    }
    assert(canon(armedOut) === canon(loopOut))
  }

  test("explicit schemas reproduce schema-inference results (parity mode)") {
    val in3 = Files.createTempDirectory("sparkify_in3").toString
    val out3 = Files.createTempDirectory("sparkify_out3").toString
    SparkifyFixtures.write(in3)
    Sparkify.run(spark, Sparkify.Config(in3, out3, inferSchema = true))
    def canon(dir: String, t: String) = {
      val df = spark.read.parquet(s"$dir/$t")
      val cols = df.columns.sorted.toSeq
      df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    }
    for (t <- Seq("songs", "artists", "users", "time", "songplays"))
      assert(canon(outDir, t) === canon(out3, t), s"table $t diverged")
  }

  test("timestamp truncation matches the reference expression chain") {
    import spark.implicits._
    val got = Seq(1542241826123L).toDF("ts")
      .select(Sparkify.tsTimestamp(col("ts")).as("t"))
      .select(date_format(col("t"), "yyyy-MM-dd HH:mm:ss.SSS"))
      .as[String].head()
    assert(got === "2018-11-15 00:30:26.000") // ms truncated (SURVEY §1)
  }
}
