package graft

import java.nio.file.{Files, Path, Paths}

/** Deterministic miniature fixture for the Sparkify pipeline, synthesized
  * to the FIXTURES.md §A schemas and content requirements:
  *  - a song whose title appears in a log event (inner-join hit),
  *  - log rows whose artist/location match no artist (NULL artist_id),
  *  - a log row matching an artist by location only (OR-join second leg),
  *  - one user seen under both `free` and `paid` (two rows in users),
  *  - duplicate timestamps (duplicate fact rows, collapsed by the
  *    fact-table distinct),
  *  - duplicate song file (collapsed by the songs distinct),
  *  - year=0 songs, empty artist_location, null lat/long,
  *  - non-NextSong pages that must be filtered out.
  *
  * Directory shapes match the reference globs: `song_data/A/B/x.json`
  * (3 levels, one object per file, `etl.py:35`) and `log_data/2018/x.json`
  * (2 levels, newline-delimited, `etl.py:77`).
  */
object SparkifyFixtures {

  /** CLI: write the fixture tree to args(0) (for driving the Sparkify
    * main end-to-end outside the test suite). */
  def main(args: Array[String]): Unit = write(args(0))

  def write(baseDir: String): Unit = {
    val base = Paths.get(baseDir)
    def put(rel: String, content: String): Unit = {
      val p = base.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, content)
    }

    def song(id: String, title: String, artistId: String, year: Long,
             dur: Double, aName: String, aLoc: String,
             lat: Option[Double], lon: Option[Double]): String = {
      val latS = lat.map(_.toString).getOrElse("null")
      val lonS = lon.map(_.toString).getOrElse("null")
      s"""{"song_id": "$id", "title": "$title", "artist_id": "$artistId", "year": $year, "duration": $dur, "artist_name": "$aName", "artist_location": "$aLoc", "artist_latitude": $latS, "artist_longitude": $lonS, "num_songs": 1}"""
    }

    put("song_data/A/A/s1.json",
      song("SO1", "Setanta matins", "AR1", 0, 269.58,
        "Elena", "Dubai UAE", Some(49.80388), Some(15.47491)))
    // duplicate of s1 in another file — songs.distinct() collapses it
    put("song_data/A/B/s1dup.json",
      song("SO1", "Setanta matins", "AR1", 0, 269.58,
        "Elena", "Dubai UAE", Some(49.80388), Some(15.47491)))
    put("song_data/A/B/s2.json",
      song("SO2", "Intro", "AR2", 1994, 75.67, "Lionel Richie", "", None, None))
    put("song_data/B/A/s3.json",
      song("SO3", "Setanta matins", "AR3", 2001, 301.4,
        "Other Band", "Paris", Some(1.0), Some(2.0)))

    def log(page: String, userId: String, first: String, last: String,
            gender: String, level: String, ts: Long, songT: String,
            artist: String, loc: String, session: Long): String =
      s"""{"page": "$page", "userId": "$userId", "firstName": "$first", "lastName": "$last", "gender": "$gender", "level": "$level", "ts": $ts, "song": $songT, "artist": $artist, "location": "$loc", "sessionId": $session, "userAgent": "ua1", "auth": "Logged In", "method": "PUT", "status": 200, "itemInSession": 1, "length": 100.0, "registration": 1.5e12}"""

    val t0 = 1542241826123L // 2018-11-15 00:30:26.123 UTC -> truncates to :26.000
    val events = Seq(
      // matches SO1/SO3 by title; artist name matches AR1 ("Elena")
      log("NextSong", "10", "Sylvie", "Cruz", "F", "free", t0,
        "\"Setanta matins\"", "\"Elena\"", "San Jose", 100),
      // same title at the SAME truncated second (ts +500ms) — duplicate
      // start_time rows in time and a duplicate fact row, collapsed by
      // the songplays distinct
      log("NextSong", "10", "Sylvie", "Cruz", "F", "free", t0 + 500,
        "\"Setanta matins\"", "\"Elena\"", "San Jose", 100),
      // matches by LOCATION only (log location = artist location Dubai UAE)
      log("NextSong", "20", "Jade", "Wood", "F", "paid", t0 + 60000,
        "\"Intro\"", "\"Nobody Known\"", "Dubai UAE", 200),
      // no artist/location match -> NULL artist_id in songplays
      log("NextSong", "20", "Jade", "Wood", "F", "paid", t0 + 120000,
        "\"Intro\"", "\"Unknown Artist\"", "Nowhere", 200),
      // same user later under a different level -> 2 rows in users
      log("NextSong", "10", "Sylvie", "Cruz", "F", "paid", t0 + 180000,
        "\"Intro\"", "\"Unknown Artist\"", "Nowhere", 300),
      // no song-title match -> drops out of the fact inner join
      log("NextSong", "30", "Ann", "Lee", "F", "free", t0 + 240000,
        "\"Never Recorded\"", "\"Elena\"", "Dubai UAE", 400),
      // non-NextSong page -> filtered everywhere
      log("Home", "10", "Sylvie", "Cruz", "F", "free", t0 + 300000,
        "null", "null", "San Jose", 100))
    put("log_data/2018/11.json", events.mkString("\n"))
  }
}
