"""Output checks against DuckDB, run after the timed part.

The lake checks compare a snapshot with the last-writer-wins snapshot
over every generated event, in the shape of the ``stream_merge_lake``
registry oracle. The corpus checks run each stage's own registry
oracle SQL over the generated tables.
"""

from __future__ import annotations

import os
from collections import Counter

import duckdb
from pyspark.sql import functions as F

from lapidus_spark.lake.stats import read_lake_snapshot

#: ``stream_merge_lake``'s oracle over the generated events, with the
#: stamp as epoch microseconds so both engines compare integers.
_LWW_SQL = """
    WITH ranked AS (
      SELECT user_id, event_id, ts, event_type, props,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM ev
    )
    SELECT CAST(user_id AS VARCHAR) AS entity_id,
           event_id AS last_seq,
           epoch_us(ts) AS last_ts_us,
           CASE event_type WHEN 'signup' THEN 'insert'
                WHEN 'error' THEN 'delete' ELSE 'update' END AS last_type,
           props AS item
    FROM ranked
    WHERE rn = 1 AND event_type <> 'error'
"""


def lake_mismatches(spark, lake_dir: str, event_files: list[str], out_dir: str) -> int:
    """Rows in which the live lake snapshot and the LWW snapshot over
    ``event_files`` differ (both directions)."""
    snap = os.path.join(out_dir, "snapshot")
    read_lake_snapshot(spark, lake_dir).select(
        "entity_id",
        "last_seq",
        F.unix_micros(F.col("last_ts").cast("timestamp")).alias("last_ts_us"),
        "last_type",
        "item",
    ).write.mode("overwrite").parquet(snap)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute(f"CREATE VIEW ev AS SELECT * FROM read_parquet({event_files!r})")
        con.execute(f"CREATE VIEW want AS {_LWW_SQL}")
        con.execute(f"CREATE VIEW got AS SELECT * FROM read_parquet('{snap}/*.parquet')")
        (n,) = con.execute(
            "SELECT (SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got))"
            " + (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want))"
        ).fetchone()
    finally:
        con.close()
    return int(n)


def corpus_oracle(sf_dir: str):
    """A DuckDB connection with the generated ``documents`` and
    ``embeddings`` tables as views, as the registry oracles expect."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t + '.parquet')}')"
        )
    return con


def rows(con, sql: str) -> list[dict]:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return [dict(zip(cols, r)) for r in res.fetchall()]


def same_rows(want: list[dict], got: list[dict]) -> bool:
    """Order-insensitive equality over the oracle's columns."""
    cols = list(want[0]) if want else []
    return Counter(tuple(r[c] for c in cols) for r in want) == Counter(
        tuple(r[c] for c in cols) for r in got
    )
