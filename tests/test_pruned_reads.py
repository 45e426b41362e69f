"""Every pruned lake read against the unpruned snapshot: no false
negatives.

One clustered lake carries everything the shared planner
(``stats._plan_files``) decides on: per-file zone maps and a Bloom
column from a clustered OPTIMIZE, a deletion vector in a compacted
bucket, and a column accreted by a later merge that also leaves one
bucket without stats. Over a fixed set of predicates, the point, skip,
time-window and ``format("lake")`` reads each return exactly the
snapshot filtered by the same predicate, and plan every file that
holds a matching row."""

from __future__ import annotations

import hashlib
import os
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, In, LessThan

import lapidus_spark.streaming.materialize as M
from lapidus_spark.lake import log
from lapidus_spark.lake.stats import _plan_files
from lapidus_spark.sources.lake_batch import (
    LakeBatchReader,
    _bucket_of,
    _pushed_ranges,
    register_lake_batch,
)

#: every read here asserts its planned files, so keyed reads take the scan
pytestmark = pytest.mark.usefixtures("scan_path")

COLS = ["entity_id", "last_seq", "last_ts", "last_type", "item", "tag", "band"]
N_BUCKETS = 4
T0 = datetime(2023, 11, 14, 22, 13, 20)  # epoch second 1_700_000_000


def _env(spark, ids, seq0=0, band=False):
    cols = [
        F.format_string("k%04d", F.col("id")).alias("pk"),
        (F.col("id") + seq0).alias("event_seq"),
        F.timestamp_seconds(F.col("id") * 60 + 1_700_000_000 + seq0)
        .cast("timestamp_ntz")
        .alias("ts"),
        F.lit("update").alias("type"),
        F.format_string("payload-%04d", F.col("id") + seq0).alias("item"),
        # high-cardinality, uncorrelated with the clustering: only the
        # Bloom filter can prune an equality probe on it
        F.md5(F.format_string("k%04d", F.col("id"))).alias("tag"),
    ]
    if band:
        cols.append(F.lit("b2").alias("band"))
    return spark.createDataFrame([(i,) for i in ids], "id bigint").select(*cols)


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    lake = str(tmp_path_factory.mktemp("pruned") / "lake")
    M.merge_batch_into_lake(
        _env(spark, range(160)), lake, n_buckets=N_BUCKETS, retain_versions=8,
        extra_cols=("tag",),
    )
    M.compact_lake(
        spark, lake,
        target_files_per_bucket=0,
        retain_versions=8,
        max_records_per_file=12,  # several files per bucket
        cluster_by=("entity_id", "last_ts"),
        stats_columns=("tag",),
        bloom_columns=("tag",),
    )
    # one later merge evolves the epoch (``band``) and rewrites ONE
    # bucket, which loses its stats; the other buckets stay pruned
    fresh = "k0007"
    fresh_b = _bucket_of(fresh, N_BUCKETS)
    M.merge_batch_into_lake(
        _env(spark, [7], seq0=10_000, band=True), lake, n_buckets=None,
        retain_versions=8, extra_cols=("tag", "band"),
    )
    # a deletion vector in a compacted (still zone-mapped) bucket
    dv_key = next(
        f"k{i:04d}" for i in range(160) if _bucket_of(f"k{i:04d}", N_BUCKETS) != fresh_b
    )
    M.delete_from_lake(
        spark, lake, f"entity_id = '{dv_key}'", retain_versions=8, mode="dv"
    )
    m = M._read_manifest(lake)
    assert [c["name"] for c in m["columns"]] == ["tag", "band"]
    assert m["deletion_vectors"]
    assert str(fresh_b) not in m["file_stats"]
    assert set(m["file_stats"]) == {str(b) for b in range(N_BUCKETS)} - {str(fresh_b)}
    register_lake_batch(spark)
    # the references, cached once: the snapshot, and every live file's
    # rows read raw (no mask, no tombstone filter) with their file, so
    # rows a deletion vector hides count as matches too — a stronger
    # demand than the visible rows alone
    files = [
        os.path.join(lake, rel, f)
        for rel in m["buckets"].values()
        for f in os.listdir(os.path.join(lake, rel))
        if f.endswith(".parquet")
    ]
    raw = log._align_extras(log._read_commit_files(spark, m, files), m["columns"])
    raw = raw.withColumn("file", F.input_file_name()).cache()
    snap = M.read_lake_snapshot(spark, lake).cache()
    assert raw.count() > snap.count() > 0
    yield {"dir": lake, "fresh": fresh, "dv": dv_key, "m": m, "raw": raw, "snap": snap}
    raw.unpersist()
    snap.unpersist()


def _rows(df):
    return sorted(map(tuple, df.select(*COLS).collect()))


def _paths(files):
    return {f.replace("file://", "").replace("file:", "") for f in files}


def _check(spark, lake, got, pred, files=None):
    """``got`` equals the filtered snapshot and plans every file that
    holds a match; returns the planned file set."""
    assert _rows(got) == _rows(lake["snap"].filter(pred))
    planned = _paths(files if files is not None else got.inputFiles())
    assert _paths(r["file"] for r in lake["raw"].filter(pred).select("file").collect()) <= planned
    return planned


def _tag(key):
    return hashlib.md5(key.encode("utf-8")).hexdigest()  # Spark's md5


def test_point_read(spark, lake):
    keys = [lake["fresh"], lake["dv"], "k0100", "k0151", "nope"]
    got = M.lake_point_read(spark, lake["dir"], keys)
    planned = _check(spark, lake, got, F.col("entity_id").isin(keys))
    total = sum(len(fs) for fs in lake["m"]["file_stats"].values())
    assert len(planned) < total


def test_point_read_mixing_whole_and_pruned_buckets_is_one_scan(spark, lake):
    m = lake["m"]
    keys = [lake["fresh"], "k0100", "k0151"]
    plan = _plan_files(lake["dir"], m, {}, {"entity_id": keys})
    assert None in plan.values() and any(plan.values())  # really mixed
    df = M.lake_point_read(spark, lake["dir"], keys)
    physical = df._jdf.queryExecution().sparkPlan().toString()
    assert physical.count("FileScan parquet") == 1
    assert physical.count("BroadcastHashJoin") <= 1


@pytest.mark.parametrize(
    "kind", ["range", "equality", "in_payload", "in_entity_id", "evolved", "time"]
)
def test_skip_read(spark, lake, kind):
    t1, t2 = _tag("k0042"), _tag(lake["dv"])
    c = F.col
    ts = c("last_ts").cast("timestamp_ntz")
    lo, hi = T0 + timedelta(minutes=30), T0 + timedelta(minutes=60)
    ranges, in_values, pred = {
        "range": ({"tag": ("a", "c")}, None, c("tag").between("a", "c")),
        "equality": ({"tag": (t1, t1)}, None, c("tag") == t1),
        "in_payload": ({}, {"tag": [t1, t2, "absent"]}, c("tag").isin(t1, t2, "absent")),
        "in_entity_id": (
            {}, {"entity_id": [lake["fresh"], lake["dv"], "k0099"]},
            c("entity_id").isin(lake["fresh"], lake["dv"], "k0099"),
        ),
        "evolved": ({"band": ("b1", "b3")}, None, c("band").between("b1", "b3")),
        "time": ({"last_ts": (lo, hi)}, None, (ts >= F.lit(lo)) & (ts <= F.lit(hi))),
    }[kind]
    got = M.lake_skip_read(spark, lake["dir"], ranges, in_values=in_values)
    _check(spark, lake, got, pred)


def test_time_read(spark, lake):
    lo, hi = T0 + timedelta(minutes=20), T0 + timedelta(minutes=50)
    got = M.lake_time_read(spark, lake["dir"], lo, hi)
    ts = F.col("last_ts").cast("timestamp_ntz")
    planned = _check(spark, lake, got, (ts >= F.lit(lo)) & (ts < F.lit(hi)))
    total = sum(len(fs) for fs in lake["m"]["file_stats"].values())
    assert len(planned) < total  # the window really pruned


def test_sql_read(spark, lake):
    t1 = _tag("k0042")
    lo, hi = T0 + timedelta(minutes=10), T0 + timedelta(minutes=90)
    reader = LakeBatchReader({"path": lake["dir"]})
    reader.ranges, reader.value_sets = _pushed_ranges(
        [
            In(("tag",), (t1, _tag("k0043"), "absent")),
            GreaterThanOrEqual(("last_ts",), lo),
            LessThan(("last_ts",), hi),
        ]
    )
    files = [f for p in reader.partitions() for f in p.files]
    ts = F.col("last_ts").cast("timestamp_ntz")
    pred = (
        F.col("tag").isin(t1, _tag("k0043"), "absent")
        & (ts >= F.lit(lo)) & (ts < F.lit(hi))
    )
    got = (
        spark.read.format("lake").option("path", lake["dir"]).load()
        .filter(pred)
    )
    _check(spark, lake, got, pred, files=files)
    # a point probe plans exactly the point read's files
    reader = LakeBatchReader({"path": lake["dir"]})
    reader.ranges, reader.value_sets = _pushed_ranges(
        [EqualTo(("entity_id",), "k0100")]
    )
    sql_files = {f for p in reader.partitions() for f in p.files}
    assert sql_files == _paths(M.lake_point_read(spark, lake["dir"], ["k0100"]).inputFiles())
