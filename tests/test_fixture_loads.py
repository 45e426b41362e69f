"""Fixture loads take their schema from the file's footer.

``load_table`` and the IVF index read declare the schema they read
under (``tables.parquet_schema``) instead of letting Spark infer it,
which costs one Spark job per read. These tests pin that the declared
schema is the inferred one, that the rows are the same, and that
building the read launches no job.
"""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from lapidus_spark.sources.tables import TABLES, load_table
from tests.conftest import SF_DIR, SF_DIR_MID


def _jobs(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _same_rows(a, b) -> bool:
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


@pytest.mark.parametrize("name", TABLES)
def test_load_table_equals_inferred_read(spark, name):
    df, jobs = _jobs(spark, f"load_{name}", lambda: load_table(spark, SF_DIR_MID, name))
    assert jobs == [], f"building load_table({name!r}) launched {jobs}"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    inferred = spark.read.parquet(os.path.join(SF_DIR_MID, f"{name}.parquet"))
    assert df.schema == inferred.schema
    assert _same_rows(df, inferred)


def test_load_table_reads_nanosecond_timestamps(spark, tmp_path):
    """A TIMESTAMP(NANOS) ``ts`` is declared as the bigint the
    nanosAsLong reader returns, then truncated to micros."""
    ts = [datetime.datetime(2023, 1, 1, 0, 0, 0, 123456), None]
    pq.write_table(
        pa.table({"event_id": [1, 2], "ts": pa.array(ts, pa.timestamp("ns"))}),
        str(tmp_path / "events.parquet"),
        version="2.6",
    )
    df = load_table(spark, str(tmp_path), "events")
    assert df.dtypes == [("event_id", "bigint"), ("ts", "timestamp")]
    assert [r["ts"] for r in df.orderBy("event_id").collect()] == ts


def test_load_table_reads_spark_written_dirs(spark, tmp_path):
    """A table Spark wrote is a dir of part files whose footers carry
    Spark's own schema: an INT96 ``timestamp`` stays ``timestamp``."""
    spark.sql(
        "SELECT id AS event_id, timestamp'2024-01-01 10:00:00' AS ts, "
        "array(CAST(id AS FLOAT)) AS vec FROM range(3)"
    ).coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
    df, jobs = _jobs(spark, "load_dir", lambda: load_table(spark, str(tmp_path), "events"))
    assert jobs == []
    inferred = spark.read.parquet(str(tmp_path / "events.parquet"))
    assert df.schema == inferred.schema
    assert _same_rows(df, inferred)


def test_ivf_index_read_equals_inferred_read(spark):
    from lapidus_spark.functions.similarity import _read_ivf_index, build_ivf_index

    idx = build_ivf_index(spark, SF_DIR)
    df, jobs = _jobs(spark, "ivf_read", lambda: _read_ivf_index(spark, idx))
    assert jobs == []
    inferred = spark.read.parquet(idx)
    assert df.schema == inferred.schema
    assert _same_rows(df, inferred)
