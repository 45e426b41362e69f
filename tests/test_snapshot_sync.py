"""Full-state re-sync — MERGE's WHEN NOT MATCHED BY SOURCE THEN
DELETE analog (``sync_snapshot_into_lake``). The oracle gate proves
the end state; this file pins the op's contract edges: single-commit
atomicity (upserts and retirements land in one version), idempotent
re-sync, txn-marker-free replays, retirement being an ordinary
tombstone (resurrectable by a later merge, visible to CDF as a
delete), empty-lake bootstrap, and extra-column null-fill on the
retirement rows.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import lapidus_spark.streaming.materialize as M

RETIRE_TS = "2024-06-01 00:00:00"


def _env(spark, ids, seq_base=0, extra=None):
    cols = [
        F.format_string("k%04d", F.col("id")).alias("pk"),
        (F.col("id") + seq_base).alias("event_seq"),
        F.timestamp_seconds(F.col("id") * 60 + 1_700_000_000 + seq_base)
        .cast("timestamp_ntz")
        .alias("ts"),
        F.lit("insert").alias("type"),
        F.format_string(f"v{seq_base}-%04d", F.col("id")).alias("item"),
    ]
    if extra is not None:
        cols.append(extra)
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    return df.select(*cols)


def _visible(spark, lake):
    return {
        r["entity_id"]: r["item"]
        for r in M.read_lake_snapshot(spark, lake).collect()
    }


def test_sync_upserts_and_retires_in_one_version(spark, tmp_path):
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(_env(spark, range(12)), lake, n_buckets=4, retain_versions=4)
    v0 = M._read_manifest(lake)["version"]
    # the source: entities 0-7 survive with NEWER values, 8-11 vanished
    res = M.sync_snapshot_into_lake(
        _env(spark, range(8), seq_base=1000),
        lake,
        retire_seq=10_000,
        retire_ts=RETIRE_TS,
        n_buckets=4,
        retain_versions=4,
    )
    assert res["retired"] == 4
    assert res["version"] == v0 + 1  # ONE commit for both halves
    vis = _visible(spark, lake)
    assert set(vis) == {f"k{i:04d}" for i in range(8)}
    assert all(v.startswith("v1000-") for v in vis.values())
    # the retirement is an ordinary tombstone: CDF reports a delete
    changes = {
        r["entity_id"]: r["change_type"]
        for r in M.lake_changes(spark, lake, from_version=v0).collect()
    }
    assert all(changes[f"k{i:04d}"] == "delete" for i in range(8, 12))


def test_resync_is_idempotent_and_marker_free(spark, tmp_path):
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(_env(spark, range(12)), lake, n_buckets=4, retain_versions=4)
    src = _env(spark, range(8), seq_base=1000)
    kw = dict(retire_seq=10_000, retire_ts=RETIRE_TS, n_buckets=4, retain_versions=4)
    M.sync_snapshot_into_lake(src, lake, txn=("resync", 1), **kw)
    want = _visible(spark, lake)
    # second sync of the same snapshot: nothing left to retire, and
    # the replayed txn marker makes the merge itself free
    res = M.sync_snapshot_into_lake(src, lake, txn=("resync", 1), **kw)
    assert res["retired"] == 0
    assert _visible(spark, lake) == want
    # a NEW snapshot under the next marker applies normally
    res = M.sync_snapshot_into_lake(
        _env(spark, range(6), seq_base=2000), lake, txn=("resync", 2), **kw
    )
    assert res["retired"] == 2
    assert set(_visible(spark, lake)) == {f"k{i:04d}" for i in range(6)}


def test_retired_entity_resurrects_via_later_merge(spark, tmp_path):
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(_env(spark, range(6)), lake, n_buckets=4, retain_versions=4)
    M.sync_snapshot_into_lake(
        _env(spark, range(4), seq_base=1000),
        lake,
        retire_seq=10_000,
        retire_ts=RETIRE_TS,
        n_buckets=4,
        retain_versions=4,
    )
    assert "k0005" not in _visible(spark, lake)
    # an ordinary CDC merge with a stamp past the retirement wins LWW
    M.merge_batch_into_lake(
        _env(spark, [5], seq_base=20_000).withColumn(
            "ts", F.lit("2024-07-01 00:00:00").cast("timestamp_ntz")
        ),
        lake,
        n_buckets=4,
        retain_versions=4,
    )
    assert "k0005" in _visible(spark, lake)


def test_sync_bootstraps_an_empty_lake(spark, tmp_path):
    lake = str(tmp_path / "lake")
    res = M.sync_snapshot_into_lake(
        _env(spark, range(5)),
        lake,
        retire_seq=10_000,
        retire_ts=RETIRE_TS,
        n_buckets=4,
        retain_versions=2,
    )
    assert res == {"retired": 0, "version": 1}
    assert set(_visible(spark, lake)) == {f"k{i:04d}" for i in range(5)}


def test_sync_nullfills_extras_on_retirement_rows(spark, tmp_path):
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(
        _env(spark, range(6), extra=(F.col("id") % 3).cast("bigint").alias("shard")),
        lake,
        n_buckets=4,
        retain_versions=4,
        extra_cols=("shard",),
    )
    M.sync_snapshot_into_lake(
        _env(
            spark, range(4), seq_base=1000,
            extra=(F.col("id") % 3).cast("bigint").alias("shard"),
        ),
        lake,
        retire_seq=10_000,
        retire_ts=RETIRE_TS,
        n_buckets=4,
        retain_versions=4,
        extra_cols=("shard",),
    )
    vis = {
        r["entity_id"]: r["shard"]
        for r in M.read_lake_snapshot(spark, lake).collect()
    }
    assert set(vis) == {f"k{i:04d}" for i in range(4)}
    assert all(v is not None for v in vis.values())


def test_sync_validates_retire_seq(spark, tmp_path):
    with pytest.raises(ValueError, match="retire_seq"):
        M.sync_snapshot_into_lake(
            _env(spark, range(3)),
            str(tmp_path / "lake"),
            retire_seq="nope",
            retire_ts=RETIRE_TS,
        )


def test_sync_accepts_full_envelope_batches(spark, tmp_path):
    """Regression (round-10 review): a canonical envelope batch also
    carries source/schema_name/table_name/tx_id beyond the core five
    — the retirement tombstone frame must mirror the batch's FULL
    schema or the union fails on the first retirement."""
    lake = str(tmp_path / "lake")

    def envelope(ids, seq_base=0):
        return _env(spark, ids, seq_base).select(
            "pk", "event_seq",
            F.lit("pg_main").alias("source"),
            "type",
            F.lit("public").alias("schema_name"),
            F.lit("users").alias("table_name"),
            "item",
            F.col("event_seq").alias("tx_id"),
            "ts",
        )

    M.merge_batch_into_lake(envelope(range(10)), lake, n_buckets=4, retain_versions=2)
    res = M.sync_snapshot_into_lake(
        envelope(range(6), seq_base=1000),
        lake,
        retire_seq=10_000,
        retire_ts=RETIRE_TS,
        n_buckets=4,
        retain_versions=2,
    )
    assert res["retired"] == 4
    assert set(_visible(spark, lake)) == {f"k{i:04d}" for i in range(6)}


def test_replayed_sync_never_scans_the_table(spark, tmp_path, monkeypatch):
    """Regression (round-10 review): the txn marker must short-circuit
    BEFORE the retirement anti-join — a restarted sink redelivering
    its last snapshot is metadata-speed, never a full-table read."""
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(_env(spark, range(8)), lake, n_buckets=4, retain_versions=2)
    src = _env(spark, range(5), seq_base=1000)
    kw = dict(retire_seq=10_000, retire_ts=RETIRE_TS, n_buckets=4, retain_versions=2)
    v = M.sync_snapshot_into_lake(src, lake, txn=("resync", 7), **kw)["version"]

    def boom(*a, **k):
        raise AssertionError("a replayed sync must not read any bucket")

    from lapidus_spark.lake import log as lake_log

    monkeypatch.setattr(lake_log, "_read_live", boom)
    assert M.sync_snapshot_into_lake(src, lake, txn=("resync", 7), **kw) == {
        "retired": 0,
        "version": v,
    }


def test_sync_validates_retire_ts(spark, tmp_path):
    """Regression (round-10 advice): a None or unparseable retire_ts
    silently cast to NULL, so every retirement tombstone lost the LWW
    combine and the op no-op'd its whole purpose while reporting
    retired>0 — both shapes must fail fast like retire_seq does."""
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(_env(spark, range(6)), lake, n_buckets=4, retain_versions=2)
    for bad in (None, "not-a-timestamp"):
        with pytest.raises(ValueError, match="retire_ts"):
            M.sync_snapshot_into_lake(
                _env(spark, range(3), seq_base=1000),
                lake,
                retire_seq=10_000,
                retire_ts=bad,
                n_buckets=4,
                retain_versions=2,
            )
    # lake untouched: the validation fires before any commit
    assert set(_visible(spark, lake)) == {f"k{i:04d}" for i in range(6)}


def test_retirement_scan_reads_only_keys_and_types(spark, tmp_path, monkeypatch):
    """The retirement anti-join reads every live bucket, so its scan
    must carry no payload: the lake-side ``FileScan`` of the frame the
    sync hands to the merge reads ``entity_id`` and ``last_type``,
    never ``item``."""
    from lapidus_spark.lake import merge

    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(_env(spark, range(12)), lake, n_buckets=4)
    seen = []
    real = merge._merge_locked

    def capture(spark_, batch_df, *args, **kwargs):
        seen.append(batch_df._jdf.queryExecution().executedPlan().toString())
        return real(spark_, batch_df, *args, **kwargs)

    monkeypatch.setattr(merge, "_merge_locked", capture)
    res = M.sync_snapshot_into_lake(
        _env(spark, range(8), seq_base=1000),
        lake,
        retire_seq=10_000,
        retire_ts=RETIRE_TS,
        n_buckets=4,
    )
    assert res["retired"] == 4
    (plan,) = seen
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scans, plan
    for scan in scans:
        read_schema = scan.split("ReadSchema: ", 1)[1]
        assert "entity_id" in read_schema and "item" not in read_schema, scan
