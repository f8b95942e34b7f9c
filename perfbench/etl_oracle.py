"""DuckDB restatement of the reference etl.py, used to check the five
tables one Sparkify pass wrote: row count and content (as multisets).

Each table is read back from the pass's partitioned parquet output and
compared against the same table derived in DuckDB from the same JSON.
Timestamps compare as epoch microseconds; partition columns are cast to
the types the pipeline gives them.
"""
import os
import shutil

import duckdb

TMP = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work", "duckdb_tmp")

SONG_COLS = ("{song_id: 'VARCHAR', title: 'VARCHAR', artist_id: 'VARCHAR', "
             "year: 'BIGINT', duration: 'DOUBLE', artist_name: 'VARCHAR', "
             "artist_location: 'VARCHAR', artist_latitude: 'DOUBLE', "
             "artist_longitude: 'DOUBLE', num_songs: 'BIGINT'}")
LOG_COLS = ("{page: 'VARCHAR', userId: 'VARCHAR', firstName: 'VARCHAR', "
            "lastName: 'VARCHAR', gender: 'VARCHAR', level: 'VARCHAR', ts: 'BIGINT', "
            "song: 'VARCHAR', artist: 'VARCHAR', location: 'VARCHAR', "
            "sessionId: 'BIGINT', userAgent: 'VARCHAR'}")

# the reference's five tables (etl.py:39-173), over the JSON inputs
EXPECTED = {
    "songs": "SELECT DISTINCT song_id, title, artist_id, year, duration FROM song_json",
    "artists": """SELECT DISTINCT artist_id, artist_name AS name,
        artist_location AS location, artist_latitude AS latitude,
        artist_longitude AS longitude FROM song_json""",
    "users": """SELECT DISTINCT userId AS user_id, firstName AS first_name,
        lastName AS last_name, gender, level FROM logs""",
    "time": "SELECT * FROM time_t",
    "songplays": """SELECT DISTINCT t.start_time, l.userId AS user_id, l.level,
        s.song_id, a.artist_id, l.sessionId AS session_id, l.location,
        l.userAgent AS user_agent, t.year, t.month
      FROM logs l
      JOIN (SELECT song_id, title, duration FROM
              (SELECT DISTINCT song_id, title, artist_id, year, duration FROM song_json))
        s ON l.song = s.title
      LEFT JOIN (SELECT DISTINCT artist_id, artist_name AS name,
                   artist_location AS location FROM song_json) a
        ON l.artist = a.name OR l.location = a.location
      LEFT JOIN time_t t ON l.ts_timestamp = t.start_time""",
}

# canonical projection per table, applied to both sides
CANON = {
    "songs": "song_id, title, artist_id, CAST(year AS BIGINT) AS year, duration",
    "artists": "artist_id, name, location, latitude, longitude",
    "users": "user_id, first_name, last_name, gender, level",
    "time": """epoch_us(start_time) AS start_time, CAST(hour AS BIGINT) AS hour,
        CAST(day AS BIGINT) AS day, CAST(week AS BIGINT) AS week, weekday,
        CAST(year AS BIGINT) AS year, CAST(month AS BIGINT) AS month""",
    "songplays": """epoch_us(start_time) AS start_time, user_id, level, song_id,
        artist_id, session_id, location, user_agent, CAST(year AS BIGINT) AS year,
        CAST(month AS BIGINT) AS month""",
}


def _connect(in_dir):
    """DuckDB over the JSON inputs, with the expected tables materialized."""
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    con.sql("SET memory_limit='2GB'")
    con.sql(f"SET temp_directory='{TMP}'")
    con.sql("SET threads=2")
    con.sql(f"""CREATE VIEW song_json AS SELECT * FROM read_json(
        '{in_dir}/song_data/*/*/*/*.json', format='newline_delimited',
        columns={SONG_COLS})""")
    con.sql(f"""CREATE VIEW logs AS SELECT *,
        make_timestamp((ts // 1000) * 1000000) AS ts_timestamp
        FROM read_json('{in_dir}/log_data/*/*/*.json', format='newline_delimited',
                       columns={LOG_COLS})
        WHERE page = 'NextSong'""")
    con.sql("""CREATE TABLE time_t AS SELECT ts_timestamp AS start_time,
        hour(ts_timestamp) AS hour, day(ts_timestamp) AS day,
        weekofyear(ts_timestamp) AS week, dayname(ts_timestamp) AS weekday,
        year(ts_timestamp) AS year, month(ts_timestamp) AS month FROM logs""")
    for t, sql in EXPECTED.items():
        con.sql(f"CREATE TABLE expected_{t} AS SELECT {CANON[t]} FROM ({sql})")
    return con


def _read(table, out_dir):
    return (f"SELECT {CANON[table]} FROM read_parquet('{out_dir}/{table}/**/*.parquet', "
            f"hive_partitioning = true)")


def _compare(con, table, out_dir):
    got = _read(table, out_dir)
    exp = f"SELECT * FROM expected_{table}"
    n_got = con.sql(f"SELECT count(*) FROM ({got})").fetchone()[0]
    n_exp = con.sql(f"SELECT count(*) FROM ({exp})").fetchone()[0]
    if n_got != n_exp or n_exp == 0:
        return False
    diff = con.sql(f"SELECT count(*) FROM (({got}) EXCEPT ALL ({exp}))").fetchone()[0]
    return diff == 0


def check(in_dir, out_dirs):
    """[{table: matches}] for the five tables under each of out_dirs."""
    con = _connect(in_dir)
    return [{t: _compare(con, t, d) for t in EXPECTED} for d in out_dirs]


def rows_written(out_dir):
    con = duckdb.connect()
    return sum(con.sql(f"SELECT count(*) FROM ({_read(t, out_dir)})").fetchone()[0]
               for t in EXPECTED)


def self_check(in_dir, out_dir, planted_dir):
    """Plant one wrong row in a copy of `users`; the check must fail it."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    shutil.rmtree(planted_dir, ignore_errors=True)
    os.makedirs(os.path.join(planted_dir, "users"))
    t = pq.read_table(os.path.join(out_dir, "users"))
    col = t.column("level").to_pylist()
    col[0] = "gold" if col[0] != "gold" else "free"
    t = t.set_column(t.schema.get_field_index("level"), "level", pa.array(col))
    pq.write_table(t, os.path.join(planted_dir, "users", "part-0.parquet"))
    caught = not _compare(_connect(in_dir), "users", planted_dir)
    shutil.rmtree(planted_dir, ignore_errors=True)
    return {"planted": "users", "caught": caught}
