"""Output checks made after the timed window, in DuckDB over the generated
inputs: shipped queries against `SparkEntry.oracleSql` (the rules of
scripts/check.py: column names, column types, row count, rows), and the SongAnalytics star tables against a DuckDB
formulation of the reference pipeline over the same JSON.
"""
import importlib.util
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _norm():
    """`norm` from scripts/check.py, so both checks compare alike."""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "scripts", "check.py")
    spec = importlib.util.spec_from_file_location("graft_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.norm


norm = _norm()


def compare(con, got_sql, want_sql):
    """'' when both relations have the same column names and types and
    hold the same rows (columns sorted by name), else a one-line reason."""
    got, want = con.sql(got_sql), con.sql(want_sql)
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        return f"columns {gc} vs {wc}"
    gt = dict(zip(got.columns, map(str, got.types)))
    wt = dict(zip(want.columns, map(str, want.types)))
    types = {c: (gt[c], wt[c]) for c in gc if gt[c] != wt[c]}
    if types:
        return f"column types differ: {types}"
    g = con.sql(f"SELECT {', '.join(gc)} FROM ({got_sql})").fetchall()
    w = con.sql(f"SELECT {', '.join(wc)} FROM ({want_sql})").fetchall()
    if len(g) != len(w):
        return f"rows {len(g)} vs {len(w)}"
    g, w = norm(g), norm(w)
    if g != w:
        bad = next((a, b) for a, b in zip(g, w) if a != b)
        return f"{sum(a != b for a, b in zip(g, w))} rows differ; first {bad[0]} vs {bad[1]}"
    return ""


def connect(data_dir):
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    for t in TABLES:
        p = f"{data_dir}/{t}.parquet"
        if os.path.isdir(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        elif os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def oracle_checks(data_dir, check_dir, oracle):
    """One (name, error) per shipped query whose result the run persisted
    under check_dir."""
    con = connect(data_dir)
    out = []
    for name, sql in sorted(oracle.items()):
        try:
            out.append((name, compare(con, f"SELECT * FROM '{check_dir}/{name}/*.parquet'",
                                      sql)))
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            out.append((name, f"{type(e).__name__}: {e}"))
    return out


SONG_COLS = """{'num_songs': 'INTEGER', 'artist_id': 'VARCHAR', 'artist_latitude': 'FLOAT',
 'artist_longitude': 'FLOAT', 'artist_location': 'VARCHAR', 'artist_name': 'VARCHAR',
 'song_id': 'VARCHAR', 'title': 'VARCHAR', 'duration': 'FLOAT', 'year': 'INTEGER'}"""
LOG_COLS = """{'artist': 'VARCHAR', 'auth': 'VARCHAR', 'firstName': 'VARCHAR',
 'gender': 'VARCHAR', 'itemInSession': 'BIGINT', 'lastName': 'VARCHAR', 'length': 'DOUBLE',
 'level': 'VARCHAR', 'location': 'VARCHAR', 'method': 'VARCHAR', 'page': 'VARCHAR',
 'registration': 'DOUBLE', 'sessionId': 'BIGINT', 'song': 'VARCHAR', 'status': 'VARCHAR',
 'ts': 'VARCHAR', 'userAgent': 'VARCHAR', 'userId': 'VARCHAR'}"""

# The reference pipeline (transform-data.py) in DuckDB SQL, one query per
# star table SongAnalytics writes. songplays.num is checked separately.
ETL_SQL = {
    "songs": "SELECT DISTINCT song_id, title, artist_id, year, duration FROM songs",
    "artists": """SELECT DISTINCT artist_id, artist_name AS name, artist_location AS location,
        coalesce(artist_latitude, 0) AS latitude, coalesce(artist_longitude, 0) AS longitude
        FROM songs""",
    "users": """SELECT DISTINCT userId AS user_id, firstName AS first_name,
        lastName AS last_name, gender, level FROM logs_clean""",
    "time": """SELECT start_time, CAST(dayofmonth(start_time) AS INTEGER) AS day,
        CAST(month(start_time) AS INTEGER) AS month, CAST(year(start_time) AS INTEGER) AS year,
        CAST(hour(start_time) AS INTEGER) AS hour, CAST(minute(start_time) AS INTEGER) AS minute,
        CAST(second(start_time) AS INTEGER) AS second,
        CAST(weekofyear(start_time) AS INTEGER) AS week,
        CAST(dayofweek(start_time) + 1 AS INTEGER) AS weekday
        FROM (SELECT DISTINCT ts_converted AS start_time FROM logs_clean)""",
    "songplays": """WITH artists AS (SELECT DISTINCT artist_id, artist_name AS name,
          artist_location AS location, coalesce(artist_latitude, 0) AS latitude,
          coalesce(artist_longitude, 0) AS longitude FROM songs),
        sdim AS (SELECT DISTINCT song_id, title, artist_id, year, duration FROM songs),
        t AS (SELECT DISTINCT ts_converted AS start_time FROM logs_clean)
        SELECT t.start_time, l.userId AS user_id, l.level, s.song_id, a.artist_id,
          l.sessionId AS session_id, l.location, l.userAgent AS user_agent,
          CAST(year(t.start_time) AS INTEGER) AS year,
          CAST(month(t.start_time) AS INTEGER) AS month
        FROM logs_clean l JOIN t ON l.ts_converted = t.start_time
        JOIN artists a ON l.artist = a.name JOIN sdim s ON l.song = s.title""",
}


# The partition columns of each star table (Main.scala, EtlStar.pipeline).
ETL_PARTITIONS = {"songs": ["year"], "time": ["year", "month"],
                  "songplays": ["year", "month"]}


def etl_checks(json_dir, etl_dir):
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    con.sql(f"""CREATE VIEW songs AS SELECT * FROM read_json('{json_dir}/songs.json',
        format = 'newline_delimited', columns = {SONG_COLS})""")
    con.sql(f"""CREATE VIEW logs_clean AS SELECT *,
        make_timestamp(CAST(ts AS BIGINT) * 1000) AS ts_converted,
        CAST(registration AS BIGINT) AS registration_converted
        FROM read_json('{json_dir}/logs.json', format = 'newline_delimited',
          columns = {LOG_COLS}) WHERE page = 'NextSong'""")
    out = []
    for table, sql in ETL_SQL.items():
        name = f"pipeline.{table}"
        try:
            # A hive path keeps a partition value, not its type: declare
            # the type Spark wrote (year() and month() are INT).
            parts = ETL_PARTITIONS.get(table)
            types = ", hive_types = {%s}" % ", ".join(
                f"'{c}': INTEGER" for c in parts) if parts else ""
            got = (f"SELECT * FROM read_parquet('{etl_dir}/{table}/**/*.parquet', "
                   f"hive_partitioning = true{types})")
            if table == "songplays":
                n, lo, hi, d = con.sql(f"SELECT count(*), min(num), max(num), "
                                       f"count(DISTINCT num) FROM ({got})").fetchone()
                if (lo, hi, d) != (1, n, n):
                    out.append((name + ".num", f"num is not 1..{n}: min {lo} max {hi} distinct {d}"))
                    continue
                got = got.replace("SELECT *", "SELECT * EXCLUDE (num)")
            out.append((name, compare(con, got, sql)))
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            out.append((name, f"{type(e).__name__}: {e}"))
    return out
