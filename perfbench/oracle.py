"""Expected results and the comparison the benchmark checks outputs with.

Registry queries are checked against their own DuckDB oracle
(``REGISTRY[name].oracle``) over the same parquet files. The Sparkify
tables are checked against ``SPARKIFY_SQL`` below, which states the
pipeline's intended semantics (plans/sparkify.py): AND of the non-empty
checks, ``timestamp_millis`` in UTC, ISO week and weekday.

The comparison is the one ``tests/oracle_utils.compare`` makes, with its
row normalisation (``_canon``): the same column names, the same row count,
and equal rows after sorting columns by name and rows by value, with
numeric and temporal values normalised. Expected results are kept in that
canonical form, so each is computed once.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle

import duckdb

from tests.oracle_utils import _canon

_SONG_COLS = (
    "{song_id: 'VARCHAR', title: 'VARCHAR', artist_id: 'VARCHAR', year: 'BIGINT', "
    "duration: 'DOUBLE', artist_name: 'VARCHAR', artist_location: 'VARCHAR', "
    "artist_latitude: 'DOUBLE', artist_longitude: 'DOUBLE'}"
)
_LOG_COLS = (
    "{artist: 'VARCHAR', firstName: 'VARCHAR', gender: 'VARCHAR', lastName: 'VARCHAR', "
    "length: 'DOUBLE', level: 'VARCHAR', location: 'VARCHAR', page: 'VARCHAR', "
    "sessionId: 'BIGINT', song: 'VARCHAR', ts: 'BIGINT', userAgent: 'VARCHAR', "
    "userId: 'VARCHAR'}"
)

_SPARKIFY_VIEWS = """
CREATE VIEW songs_raw AS
  SELECT * FROM read_json('{song}/*.json', format='newline_delimited', columns={song_cols});
CREATE VIEW log_raw AS
  SELECT * FROM read_json('{log}/*.json', format='newline_delimited', columns={log_cols});
CREATE VIEW songs AS
  SELECT song_id, title, artist_id, NULLIF(year, 0) AS year, duration FROM (
    SELECT *, row_number() OVER (PARTITION BY song_id ORDER BY artist_id, song_id) AS rn
    FROM songs_raw) WHERE rn = 1;
CREATE VIEW artists AS
  SELECT artist_id, name, location, latitude, longitude FROM (
    SELECT artist_id, artist_name AS name, artist_location AS location,
           artist_latitude AS latitude, artist_longitude AS longitude,
           row_number() OVER (PARTITION BY artist_id ORDER BY artist_id, artist_name) AS rn
    FROM songs_raw) WHERE rn = 1;
CREATE VIEW cleaned AS
  SELECT * EXCLUDE (userId), CAST(userId AS BIGINT) AS userId,
         make_timestamp(ts * 1000) AS start_time
  FROM log_raw
  WHERE artist IS NOT NULL AND firstName IS NOT NULL AND gender IS NOT NULL
    AND lastName IS NOT NULL AND length IS NOT NULL AND level IS NOT NULL
    AND page IS NOT NULL AND sessionId IS NOT NULL AND song IS NOT NULL
    AND ts IS NOT NULL AND userAgent IS NOT NULL AND userId IS NOT NULL
    AND artist <> '' AND firstName <> '' AND gender <> '' AND lastName <> ''
    AND level <> '' AND song <> '' AND userAgent <> '' AND userId <> ''
    AND page = 'NextSong';
"""

SPARKIFY_SQL = {
    "songs": "SELECT * FROM songs",
    "artists": "SELECT * FROM artists",
    "users": """
        SELECT user_id, first_name, last_name, gender, level FROM (
          SELECT userId AS user_id, firstName AS first_name, lastName AS last_name,
                 gender, level,
                 row_number() OVER (PARTITION BY userId ORDER BY ts DESC) AS rn
          FROM cleaned) WHERE rn = 1""",
    "time": """
        SELECT DISTINCT start_time,
               CAST(hour(start_time) AS INT) AS hour,
               CAST(day(start_time) AS INT) AS day,
               CAST(week(start_time) AS INT) AS week,
               CAST(month(start_time) AS INT) AS month,
               CAST(year(start_time) AS INT) AS year,
               CAST(isodow(start_time) AS INT) AS weekday
        FROM cleaned""",
    "songplays": """
        SELECT l.start_time, l.userId AS user_id, l.level, c.artist_id,
               l.sessionId AS session_id, l.location, l.userAgent AS user_agent,
               CAST(year(l.start_time) AS INT) AS year,
               CAST(month(l.start_time) AS INT) AS month
        FROM cleaned l
        JOIN (SELECT s.song_id, s.title, s.duration, s.artist_id, a.name
              FROM songs s JOIN artists a ON s.artist_id = a.artist_id) c
          ON l.artist = c.name AND l.song = c.title AND l.length = c.duration""",
}


def sparkify_connection(song_dir: str, log_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(
        _SPARKIFY_VIEWS.format(song=song_dir, log=log_dir,
                               song_cols=_SONG_COLS, log_cols=_LOG_COLS)
    )
    return con


def canonical(columns: list[str], rows: list[tuple]) -> dict:
    """Column names lower-cased and sorted; rows normalised and sorted the
    way ``tests/oracle_utils.compare`` does."""
    cols = [c.lower() for c in columns]
    return {"columns": sorted(cols), "rows": _canon(rows, cols)}


def mismatch(got: dict, expected: dict) -> str | None:
    """None when ``got`` equals ``expected``, else a one-line description."""
    if got["columns"] != expected["columns"]:
        return f"columns differ: got={got['columns']} expected={expected['columns']}"
    a, b = got["rows"], expected["rows"]
    if len(a) != len(b):
        return f"row count differs: got={len(a)} expected={len(b)}"
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return f"row {i}: got={x} expected={y}"
    return None


def expected_from_sql(con: duckdb.DuckDBPyConnection, sql: str) -> dict:
    rel = con.sql(sql)
    return canonical(list(rel.columns), [tuple(r) for r in rel.fetchall()])


def cached_expected(cache_dir: str, data_identity: dict, name: str, sql: str, con_factory) -> dict:
    """Expected result of ``sql``, computed once per (input data, query,
    SQL text) and kept as a pickle under ``cache_dir``. ``con_factory`` is
    called only on a cache miss. The pickles are written by this module
    only and live inside the benchmark's own scratch directory."""
    key = hashlib.sha256(
        json.dumps([data_identity, name, sql], sort_keys=True).encode()
    ).hexdigest()[:24]
    path = os.path.join(cache_dir, f"{name}-{key}.pkl")
    try:
        with open(path, "rb") as f:
            return pickle.load(f)
    except FileNotFoundError:
        pass
    result = expected_from_sql(con_factory(), sql)
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "wb") as f:
        pickle.dump(result, f)
    os.replace(tmp, path)
    return result
