"""Change feeds small enough for the driver: ``lake_changes`` and
``lake_changes_rows`` read both versions' changed buckets with pyarrow,
diff them with ``lake_source._change_batches`` and return a local
relation (``stats._local_changes``); bigger diffs, and
``autoBroadcastJoinThreshold=-1``, keep the Spark full-outer join.

Pinned here: on an INT96 ``timestamp`` lake and a ``timestamp_ntz``
lake, under three session zones, both feeds equal the join path in
schema, rows and ``last_ts`` rendered in the session zone, for a
from-empty diff, ordinary merges, a compaction-only step, an epoch with
an accreted extra column, a tombstone refreshed by a tombstone, a
RESTORE with vanished keys and a rebucket; building and collecting a
local feed launches no Spark job, reads eagerly, and opens the files
the join reads; a deletion-vector bucket and a plan over the threshold
take the join; and an empty feed keeps the
epoch's types."""

from __future__ import annotations

import os
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

import lapidus_spark.streaming.materialize as M
from lapidus_spark.lake import stats
from lapidus_spark.sources import lake_batch
from lapidus_spark.sources.lake_batch import _bucket_of
from tests.test_read_planning import THRESHOLD, _audited_local, _conf, _env, _is_local, _rows, _view

FEEDS = {"changes": M.lake_changes, "rows": M.lake_changes_rows}
RETAIN = dict(retain_versions=16)


def _batch(spark, rows, ntz, amount=False):
    """Events ``(pk, seq, second, type, item[, amount])``; ``ts`` is
    the second after 2023-11-14 22:13:20 UTC."""
    cols = "pk string, event_seq long, sec long, type string, item string"
    df = spark.createDataFrame(rows, cols + (", amount long" if amount else ""))
    ts = F.timestamp_seconds(F.col("sec") + 1_700_000_000)
    return df.withColumn("ts", ts.cast("timestamp_ntz") if ntz else ts).drop("sec")


def _build(spark, lake, ntz):
    """v1 30 keys (two tombstones) · v2 updates, inserts, a delete and
    a re-insert · v3 compaction only · v4 two tombstones refreshed by
    newer tombstones · v5 an accreted ``amount`` column · v6 RESTORE to
    v1 (v2's new keys vanish) · v7 rebucket 8 → 5 · v8 a merge."""
    v1 = [
        (f"k{i:03d}", i, i, "delete" if i in (5, 10) else "update", f"a{i}")
        for i in range(30)
    ]
    M.merge_batch_into_lake(_batch(spark, v1, ntz), lake, n_buckets=8, **RETAIN)
    v2 = [(f"k{i:03d}", 100 + i, 100 + i, "update", f"b{i}") for i in range(10) if i != 1]
    v2 += [(f"k{i:03d}", 100 + i, 100 + i, "insert", f"b{i}") for i in range(30, 35)]
    v2 += [("k001", 120, 120, "delete", None)]
    M.merge_batch_into_lake(_batch(spark, v2, ntz), lake, n_buckets=None, **RETAIN)
    M.compact_lake(  # the valve splits every bucket: a physical-only rewrite
        spark, lake, target_files_per_bucket=0, max_records_per_file=3, cluster_by=("entity_id", "last_ts"), **RETAIN
    )
    v4 = [("k010", 200, 200, "delete", None), ("k001", 201, 201, "delete", None)]
    M.merge_batch_into_lake(_batch(spark, v4, ntz), lake, n_buckets=None, **RETAIN)
    v5 = [(f"k{i:03d}", 300 + i, 300 + i, "update", f"c{i}", i * 7) for i in range(20, 25)]
    M.merge_batch_into_lake(
        _batch(spark, v5, ntz, amount=True), lake, n_buckets=None, extra_cols=("amount",), **RETAIN
    )
    M.restore_lake(lake, 1, **RETAIN)
    M.rebucket_lake(spark, lake, 5, **RETAIN)
    v8 = [(f"k{i:03d}", 400 + i, 400 + i, "update", f"d{i}") for i in (2, 3, 31)]
    M.merge_batch_into_lake(_batch(spark, v8, ntz), lake, n_buckets=None, **RETAIN)
    m = M._read_manifest(lake)
    assert m["version"] == 8 and m["n_buckets"] == 5
    return lake


@pytest.fixture(scope="module")
def change_lakes(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("local_changes")
    return {
        name: _build(spark, str(root / name), ntz)
        for name, ntz in (("int96_ltz", False), ("ntz", True))
    }


#: every step, a span over the compaction, spans over the restore and
#: the rebucket, the whole history from empty, and no distance at all
PAIRS = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7), (7, 8), (1, 5), (2, 8), (0, 8), (8, 8)]


def _joined(build):
    df = build()
    view = _view(df)
    assert not _is_local(df) or not view[1]  # an empty plan reads nothing
    return view


@pytest.mark.parametrize("tz", ["UTC", "America/New_York", "Asia/Tokyo"])
@pytest.mark.parametrize("name", ["int96_ltz", "ntz"])
def test_local_feeds_equal_the_join(spark, change_lakes, name, tz):
    lake = change_lakes[name]
    want_ts = "timestamp_ntz" if name == "ntz" else "timestamp"
    with _conf(spark, "spark.sql.session.timeZone", tz):
        for a, b in PAIRS:
            for feed, fn in FEEDS.items():

                def build():
                    return fn(spark, lake, from_version=a, to_version=b)

                local = _audited_local(spark, build)
                with _conf(spark, THRESHOLD, "-1"):
                    joined = _joined(build)
                assert local == joined, (name, tz, feed, a, b)
                assert local[0]["last_ts"].dataType.simpleString() == want_ts


def test_feed_cases_on_the_local_path(spark, change_lakes):
    """What each step of the fixture history must emit, read locally."""
    lake = change_lakes["ntz"]

    def feed(fn, a, b):
        return {(r.entity_id, r.change_type, r.last_seq) for r in fn(spark, lake, a, b).collect()}

    assert feed(M.lake_changes, 2, 3) == feed(M.lake_changes_rows, 2, 3) == set()  # compaction
    assert feed(M.lake_changes, 6, 7) == set()  # rebucket
    # a tombstone refreshed by a tombstone: the entity state moved, the
    # logical row did not
    assert feed(M.lake_changes, 3, 4) == {("k010", "delete", 200), ("k001", "delete", 201)}
    assert feed(M.lake_changes_rows, 3, 4) == set()
    # RESTORE to v1: v2's new keys vanish with a NULL post-image
    vanished = {(f"k{i:03d}", "delete", None) for i in range(30, 35)}
    assert vanished <= feed(M.lake_changes, 5, 6)
    rows = feed(M.lake_changes_rows, 5, 6)
    assert {(f"k{i:03d}", "delete", 100 + i) for i in range(30, 35)} <= rows
    # the re-insert of v1's tombstone k005 and v2's delete of k001
    assert {("k005", "insert", 105), ("k001", "delete", 120)} <= feed(M.lake_changes, 1, 2)
    assert ("k001", "delete", 1) in feed(M.lake_changes_rows, 1, 2)
    assert ("k010", "insert", 10) not in feed(M.lake_changes_rows, 0, 1)  # a tombstone from empty


def test_empty_feed_keeps_the_epoch_types(spark, change_lakes):
    """A feed with no changed bucket has the same schema as one with
    changes — on an LTZ lake ``last_ts`` stays ``timestamp``."""
    lake = change_lakes["int96_ltz"]
    for fn in FEEDS.values():
        for threshold in ("10MB", "-1"):
            with _conf(spark, THRESHOLD, threshold):
                changed = fn(spark, lake, from_version=1, to_version=8).schema
                for a, b in ((8, 8), (2, 3), (6, 7)):
                    empty = fn(spark, lake, from_version=a, to_version=b)
                    assert empty.schema == changed, (fn.__name__, threshold, a, b)
                    assert empty.count() == 0


def test_local_feed_opens_the_join_files(spark, change_lakes, monkeypatch):
    """The local diff reads exactly the files the join path lists in
    ``inputFiles()``: the changed buckets of both versions, none of the
    unchanged ones."""
    opened = []
    read = lake_batch._aligned_file_table

    def spy(f, *args, **kwargs):
        opened.append(f)
        return read(f, *args, **kwargs)

    monkeypatch.setattr(lake_batch, "_aligned_file_table", spy)
    lake = change_lakes["int96_ltz"]
    for fn in FEEDS.values():
        for a, b in ((3, 4), (7, 8), (1, 2)):
            opened.clear()
            assert _is_local(fn(spark, lake, from_version=a, to_version=b))
            with _conf(spark, THRESHOLD, "-1"):
                joined = fn(spark, lake, from_version=a, to_version=b).inputFiles()
            assert opened and len(opened) == len(set(opened))
            want = sorted(os.path.normpath(urlparse(f).path) for f in joined)
            assert sorted(opened) == want, (fn.__name__, a, b)


def _plan_bytes(lake, a, b) -> int:
    plan = stats._change_plan(lake, a, b, "test")
    sides = [(plan.m_new, plan.new_buckets), (plan.m_old, plan.old_buckets)]
    total = 0
    for m, buckets in sides:
        for bucket in buckets:
            rel = (m or {}).get("buckets", {}).get(str(bucket))
            if rel is not None:
                d = os.path.join(lake, rel)
                total += sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d) if f.endswith(".parquet"))
    return total


def test_local_feed_falls_back_to_the_join(spark, tmp_path):
    """A plan over the threshold and a bucket with deletion-vector
    entries on either side each take the join, and every feed equals
    the join path. A local feed is read
    eagerly, so removing its files before the collect cannot fail it."""
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(_env(spark, keys=12), lake, n_buckets=16, **RETAIN)
    M.merge_batch_into_lake(_env(spark, 6, seq0=9_000, keys=12), lake, n_buckets=None, **RETAIN)

    def check(a, b, local):
        for fn in FEEDS.values():
            df = fn(spark, lake, from_version=a, to_version=b)
            assert _is_local(df) == local, (fn.__name__, a, b)
            with _conf(spark, THRESHOLD, "-1"):
                assert _view(df) == _view(fn(spark, lake, from_version=a, to_version=b))

    size = _plan_bytes(lake, 1, 2)
    with _conf(spark, THRESHOLD, str(size)):
        check(1, 2, True)
    with _conf(spark, THRESHOLD, str(size - 1)):
        check(1, 2, False)

    M.delete_from_lake(spark, lake, "entity_id = 'k003'", mode="dv", **RETAIN)  # v3
    dv_bucket = _bucket_of("k003", 16)
    other = next(f"k{i:03d}" for i in range(12) if _bucket_of(f"k{i:03d}", 16) != dv_bucket)
    one = spark.createDataFrame(
        [(other, 50_000, "update", "late")], "pk string, event_seq long, type string, item string"
    ).withColumn("ts", F.lit("2030-01-01 00:00:00").cast("timestamp_ntz"))
    M.merge_batch_into_lake(one, lake, n_buckets=None, **RETAIN)  # v4: another bucket
    check(2, 3, False)  # the DV bucket on the new side
    check(3, 4, True)  # the DV bucket unchanged, not planned
    check(2, 4, False)
    dv_key = one.withColumn("pk", F.lit("k003")).withColumn("event_seq", F.lit(60_000))
    M.merge_batch_into_lake(dv_key, lake, n_buckets=None, **RETAIN)  # v5 rewrites it
    assert not M._read_manifest(lake).get("deletion_vectors", {}).get(str(dv_bucket))
    check(4, 5, False)  # the DV bucket on the old side

    eager = M.lake_changes(spark, lake, from_version=3, to_version=4)
    rows = _rows(eager)
    assert _is_local(eager) and rows
    rel = M._read_manifest(lake)["buckets"][str(_bucket_of(other, 16))]
    for f in os.listdir(os.path.join(lake, rel)):
        os.remove(os.path.join(lake, rel, f))
    assert _rows(eager) == rows
