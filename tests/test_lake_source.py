"""The lake as a streaming SOURCE (format ``lake_cdf``): Spark 4
Python streaming data source whose offsets are manifest versions —
the durable-cursor contract the reference gives downstream consumers
(src_slot, postgresql.js:290-354; nats.js:23-28 subscribers react to
changes, never rescan). Batch/stream parity, resume-from-checkpoint,
startingVersion, and the rebucket failure posture."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lapidus_spark.sources.cdc import normalize_events
from lapidus_spark.sources.tables import load_table
from lapidus_spark.streaming.lake_source import register_lake_cdf
from tests.conftest import SF_DIR

CDF_COLS = ["entity_id", "change_type", "last_seq", "last_ts", "last_type", "item", "ver"]


def _build_lake(spark, lake_dir: str, n_batches: int = 3) -> None:
    from lapidus_spark.streaming.materialize import merge_batch_into_lake

    env = normalize_events(load_table(spark, SF_DIR, "events"))
    for i in range(n_batches):
        merge_batch_into_lake(
            env.filter(F.col("event_seq") % n_batches == i),
            lake_dir,
            retain_versions=n_batches + 2,
        )


def _drain(spark, lake_dir: str, name: str, ckpt: str, **opts) -> list:
    """Run the lake_cdf stream into a memory sink until caught up;
    return the collected rows (sorted)."""
    register_lake_cdf(spark)
    reader = spark.readStream.format("lake_cdf").option("path", lake_dir)
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    return sorted(map(tuple, spark.table(name).select(*CDF_COLS).collect()))


def _batch_feed(spark, lake_dir: str, versions) -> list:
    """The batch-side truth: union of lake_changes over each single
    version step, labeled with the producing version."""
    from lapidus_spark.streaming.materialize import lake_changes

    rows = []
    for v in versions:
        step = lake_changes(spark, lake_dir, from_version=v - 1, to_version=v)
        rows.extend(
            map(tuple, step.withColumn("ver", F.lit(v).cast("int")).select(*CDF_COLS).collect())
        )
    return sorted(rows)


def test_stream_feed_matches_batch_diffs(spark, tmp_path):
    """Streaming consumption from version 0 emits exactly the union
    of the per-version batch change feeds — and does it across THREE
    rate-limited triggers, not one catch-up batch."""
    from lapidus_spark.plans.audit import STREAM_RUN_FACTS
    from lapidus_spark.plans.registry import load_all

    lake = str(tmp_path / "lake")
    _build_lake(spark, lake)
    got = _drain(
        spark, lake, "cdf_full", str(tmp_path / "ck"), maxVersionsPerBatch="1"
    )
    assert got == _batch_feed(spark, lake, [1, 2, 3])
    assert len(got) > 0
    # every change_type appears (inserts at v1; the sf0.001 history
    # contains updates and error-tombstones in later batches)
    assert {r[1] for r in got} == {"insert", "update", "delete"}

    # the registered query wires the same source through the runner
    # and records stream facts for the plan contract
    reg = load_all()
    out = reg["stream_lake_cdf"].fn(spark, SF_DIR)
    assert out.columns == CDF_COLS
    facts = STREAM_RUN_FACTS["stream_lake_cdf"]
    assert facts.n_batches >= 3 and facts.n_exchanges == 0 and not facts.state_ops


def test_starting_version_skips_history(spark, tmp_path):
    """startingVersion=2 is the 'subscribe from here' cursor: only
    the version-3 delta arrives, matching the batch CDF."""
    lake = str(tmp_path / "lake")
    _build_lake(spark, lake)
    got = _drain(
        spark, lake, "cdf_from2", str(tmp_path / "ck"), startingVersion="2"
    )
    assert got == _batch_feed(spark, lake, [3])
    assert len(got) > 0


def test_restart_resumes_at_committed_version(spark, tmp_path):
    """A restarted consumer resumes from the checkpointed offset:
    after draining versions 1-3 into a fault-tolerant (parquet) sink,
    a fourth merge lands, and the restarted stream appends ONLY the
    version-4 delta — no re-emits, no gaps (exactly-once incremental
    consumption; the memory sink cannot recover a checkpoint, so this
    is also the real deployment shape)."""
    from lapidus_spark.streaming.materialize import merge_batch_into_lake

    lake = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    _build_lake(spark, lake)
    register_lake_cdf(spark)

    def drain_to_parquet():
        q = (
            spark.readStream.format("lake_cdf")
            .option("path", lake)
            .option("maxVersionsPerBatch", "1")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()
        return sorted(map(tuple, spark.read.parquet(out).select(*CDF_COLS).collect()))

    first = drain_to_parquet()
    assert first == _batch_feed(spark, lake, [1, 2, 3])

    env = normalize_events(load_table(spark, SF_DIR, "events"))
    merge_batch_into_lake(
        env.filter(F.col("event_seq") % 3 == 1).withColumn(
            "event_seq", F.col("event_seq") + 1_000_000
        ),
        lake,
        retain_versions=6,
    )
    second = drain_to_parquet()
    # the sink accumulates: exactly the old rows plus ONLY the v4 delta
    assert second == sorted(first + _batch_feed(spark, lake, [4]))
    assert len(second) > len(first)


def test_diff_is_exact_above_2_53(tmp_path):
    """The per-bucket diff must compare seqs as exact integers. A left
    merge with any missing entity upcasts the old seq column to
    float64, where 2^53 and 2^53+1 collide — the update would silently
    vanish while the batch-side lake_changes (bigint <>) emits it.
    Executor-side logic, tested directly (plain pyarrow/pandas)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lapidus_spark.streaming.lake_source import (
        LakeCDFPartition,
        LakeCDFStreamReader,
    )

    ts = pa.array([1_700_000_000_000_000] * 2, type=pa.timestamp("us"))
    old_f = str(tmp_path / "old.parquet")
    new_f = str(tmp_path / "new.parquet")
    pq.write_table(
        pa.table(
            {
                "entity_id": ["e", "stable"],
                "last_seq": pa.array([2**53, 7], type=pa.int64()),
                "last_ts": ts,
                "last_type": ["update", "update"],
            }
        ),
        old_f,
    )
    pq.write_table(
        pa.table(
            {
                # "n" is NEW: its absence from the old side is what
                # forces the float64 upcast in an unprotected merge
                "entity_id": ["e", "stable", "n"],
                "last_seq": pa.array([2**53 + 1, 7, 1], type=pa.int64()),
                "last_ts": pa.concat_arrays([ts, ts[:1]]),
                "last_type": ["update", "update", "insert"],
                "item": ["i1", "i2", "i3"],
            }
        ),
        new_f,
    )
    reader = LakeCDFStreamReader({"path": str(tmp_path)})
    part = LakeCDFPartition(ver=2, new_files=[new_f], old_files=[old_f])
    batches = list(reader.read(part))
    assert len(batches) == 1
    rows = {
        r["entity_id"]: (r["change_type"], r["last_seq"])
        for r in batches[0].to_pylist()
    }
    assert rows == {"e": ("update", 2**53 + 1), "n": ("insert", 1)}
    assert "stable" not in rows  # unchanged row stays suppressed


def test_missing_bucket_dir_fails_fast(tmp_path):
    """A retained manifest pointing at an absent bucket dir is lake
    corruption: reading it as 'empty' would re-emit the whole bucket
    as inserts, so _bucket_files raises instead."""
    from lapidus_spark.streaming.lake_source import _bucket_files

    manifest = {"buckets": {"0": "gone_dir"}}
    with pytest.raises(ValueError, match="missing bucket dir"):
        _bucket_files(str(tmp_path), manifest, 0)
    # an unwritten bucket (no pointer) is genuinely empty, not corrupt
    assert _bucket_files(str(tmp_path), {"buckets": {}}, 0) == []


def test_lake_changes_rejects_negative_from_version(spark, tmp_path):
    """Only 0 is the from-empty sentinel: a negative from_version is a
    caller bug and must raise, not return a duplicate full load."""
    from lapidus_spark.streaming.materialize import lake_changes

    lake = str(tmp_path / "lake")
    _build_lake(spark, lake, n_batches=1)
    with pytest.raises(ValueError, match="from_version must be >= 0"):
        lake_changes(spark, lake, from_version=-1)


def test_rebucket_step_streams_through(spark, tmp_path):
    """A marked rebucket commit is a snapshot-identical layout swap,
    so a long-lived subscriber streams straight across it: the
    rebucket version step plans ZERO partitions (zero bucket reads),
    emits zero rows — exactly what the batch lake_changes oracle
    emits for that step via its layout-independent full diff — and
    the post-rebucket merge's delta still arrives."""
    import json
    import os

    from lapidus_spark.streaming.lake_source import LakeCDFStreamReader
    from lapidus_spark.streaming.materialize import merge_batch_into_lake, rebucket_lake

    lake = str(tmp_path / "lake")
    _build_lake(spark, lake, n_batches=2)  # versions 1, 2
    rebucket_lake(spark, lake, new_n_buckets=4, retain_versions=6)  # version 3
    env = normalize_events(load_table(spark, SF_DIR, "events"))
    merge_batch_into_lake(  # version 4, adopting the new layout
        env.filter(F.col("event_seq") % 2 == 0).withColumn(
            "event_seq", F.col("event_seq") + 1_000_000
        ),
        lake,
        n_buckets=None,
        retain_versions=6,
    )
    # the rebucket step itself: zero partitions == zero bucket reads
    reader = LakeCDFStreamReader({"path": lake})
    assert reader.partitions({"version": 2}, {"version": 3}) == []
    # end-to-end across the rebucket, no restart: union of per-step
    # batch diffs (the v3 batch diff is the zero-row full-diff)
    got = _drain(
        spark, lake, "cdf_rebucket", str(tmp_path / "ck"), maxVersionsPerBatch="1"
    )
    assert got == _batch_feed(spark, lake, [1, 2, 3, 4])
    assert not any(r[-1] == 3 for r in got)  # rebucket step: zero rows
    assert any(r[-1] == 4 for r in got)  # post-rebucket delta arrives
    # the rebucket commit's log entry carries the marker the skip
    # keys on, and the resolved v3 manifest surfaces it
    import lapidus_spark.streaming.materialize as M

    with open(M._delta_path(lake, 3)) as fh:
        d3 = json.load(fh)
    assert d3["extra"]["rebucket"] == {"version": 3, "from": 8, "to": 4}
    assert M._manifest_at(lake, 3)["rebucket"] == {"version": 3, "from": 8, "to": 4}


def test_unmarked_layout_change_raises(spark, tmp_path):
    """A layout change WITHOUT a rebucket marker (foreign writer,
    manual surgery) is not interpretable as content-preserving:
    fail fast with the restart-from-snapshot instruction instead of
    silently mis-diffing across incomparable bucket ids."""
    import json
    import os

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from lapidus_spark.streaming.materialize import rebucket_lake

    import lapidus_spark.streaming.materialize as M

    lake = str(tmp_path / "lake")
    _build_lake(spark, lake, n_batches=2)
    rebucket_lake(spark, lake, new_n_buckets=4, retain_versions=4)
    # strip the marker from the rebucket commit's log entry (the one
    # place it lives — resolution derives every manifest from it)
    p = M._delta_path(lake, 3)
    with open(p) as fh:
        d = json.load(fh)
    d["extra"].pop("rebucket")
    with open(p, "w") as fh:
        json.dump(d, fh)
    with pytest.raises(StreamingQueryException, match="without a rebucket marker"):
        _drain(spark, lake, "cdf_unmarked", str(tmp_path / "ck"))


@pytest.mark.usefixtures("distributed_path")
def test_compaction_step_is_free(spark, tmp_path, monkeypatch):
    """OPTIMIZE between two consumed versions costs change-feed
    consumers NOTHING: the compaction commit moves every degraded
    bucket's pointer but carries the data_versions stamps unchanged,
    so the batch diff reads zero buckets (asserted by making any
    read explode) and the streaming source plans zero partitions —
    Delta CDF's dataChange=false skip."""
    import lapidus_spark.streaming.materialize as M
    from lapidus_spark.streaming.lake_source import LakeCDFStreamReader

    lake = str(tmp_path / "lake")
    _build_lake(spark, lake, n_batches=2)  # versions 1, 2
    res = M.compact_lake(spark, lake, target_files_per_bucket=0, retain_versions=6)
    assert res["version"] == 3 and res["compacted_buckets"] > 0

    # streaming: the compaction step plans zero partitions → read()
    # is never invoked → zero bucket files opened
    reader = LakeCDFStreamReader({"path": lake})
    assert reader.partitions({"version": 2}, {"version": 3}) == []

    # batch: the changed-bucket set is empty BEFORE any read is
    # planned — _read_live must not run at all
    def boom(*a, **k):
        raise AssertionError("compaction-only diff must not read any bucket")

    from lapidus_spark.lake import log as lake_log

    monkeypatch.setattr(lake_log, "_read_live", boom)
    assert M.lake_changes(spark, lake, from_version=2, to_version=3).count() == 0


@pytest.mark.usefixtures("distributed_path")
def test_compaction_then_merge_prunes_to_merged_buckets(spark, tmp_path, monkeypatch):
    """An ENDPOINT diff spanning both a compaction and a merge reads
    only the merge-touched buckets: the compacted-but-unmerged
    buckets' pointers moved, but their unchanged data_versions stamps
    prove them identical, so pruning survives interleaved table
    maintenance."""
    import lapidus_spark.streaming.materialize as M

    lake = str(tmp_path / "lake")
    _build_lake(spark, lake, n_batches=2)  # versions 1, 2
    M.compact_lake(spark, lake, target_files_per_bucket=0, retain_versions=8)  # v3
    env = normalize_events(load_table(spark, SF_DIR, "events"))
    one = (
        env.orderBy("pk", "event_seq")
        .limit(1)
        .withColumn("event_seq", F.col("event_seq") + 2_000_000)
        # LWW orders by ts first: the row must also carry the newest
        # ts to become the entity's winner and register as a change
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1000 DAYS"))
    )
    M.merge_batch_into_lake(one, lake, retain_versions=8)  # v4: one bucket
    m4 = M._manifest_at(lake, 4)
    merged_buckets = {int(b) for b, v in m4["data_versions"].items() if v == 4}
    assert len(merged_buckets) == 1

    seen: list = []
    real = M._read_live

    def spying(spark_, lake_dir, manifest, buckets=None):
        seen.append(set(buckets) if buckets is not None else None)
        return real(spark_, lake_dir, manifest, buckets)

    from lapidus_spark.lake import log as lake_log

    monkeypatch.setattr(lake_log, "_read_live", spying)
    step = M.lake_changes(spark, lake, from_version=2, to_version=4)
    assert step.count() == 1  # exactly the merged entity
    assert seen and all(b == merged_buckets for b in seen)


def test_bucket_content_changed_fallback():
    """The per-bucket predicate: pointer equality proves identity;
    equal stamps skip physical-only pointer moves; a missing stamp on
    either side (pre-data_versions manifests) degrades to the
    conservative pointer comparison, never to a silent skip."""
    from lapidus_spark.streaming.materialize import _bucket_content_changed

    m = {"buckets": {"0": "commits/3/b=0"}, "data_versions": {"0": 1}}
    # no old manifest: everything is new
    assert _bucket_content_changed(None, m, "0")
    # pointer unchanged → identical, stamps irrelevant
    old = {"buckets": {"0": "commits/3/b=0"}, "data_versions": {"0": 1}}
    assert not _bucket_content_changed(old, m, "0")
    # pointer moved, stamps equal → physical-only move, skip
    old = {"buckets": {"0": "commits/2/b=0"}, "data_versions": {"0": 1}}
    assert not _bucket_content_changed(old, m, "0")
    # pointer moved, stamps differ → data change
    old = {"buckets": {"0": "commits/2/b=0"}, "data_versions": {"0": 0}}
    assert _bucket_content_changed(old, m, "0")
    # legacy manifests without stamps: pointer comparison decides
    assert _bucket_content_changed(
        {"buckets": {"0": "commits/2/b=0"}}, {"buckets": {"0": "commits/3/b=0"}}, "0"
    )
    assert not _bucket_content_changed(
        {"buckets": {"0": "commits/3/b=0"}}, {"buckets": {"0": "commits/3/b=0"}}, "0"
    )
    # stamp on one side only → conservative (changed)
    assert _bucket_content_changed(
        {"buckets": {"0": "commits/2/b=0"}},
        {"buckets": {"0": "commits/3/b=0"}, "data_versions": {"0": 1}},
        "0",
    )


def test_medallion_chain_exactly_once_across_sigkill(spark, tmp_path):
    """The composition the versioned lake + CDF source were built for
    (VERDICT r7 #7): source lake → lake_cdf stream → merge_lake_sink
    → derived lake, with the middle consumer SIGKILLed mid-commit of
    its second derived merge. The restarted consumer must resume from
    the checkpointed offset, replay the un-acked batch idempotently
    (the LWW merge is a semilattice), break the dead writer's stale
    lock, and finish — leaving the derived lake EQUAL to the source
    lake's full-history snapshot, tombstones included."""
    import os
    import signal
    import subprocess
    import sys

    from lapidus_spark.streaming.materialize import (
        LOCK_NAME,
        _read_live,
        _read_manifest,
    )

    src = str(tmp_path / "bronze")
    derived = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ck")
    _build_lake(spark, src)  # versions 1..3, with inserts/updates/deletes

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base_env = dict(os.environ, SPARK_DRIVER_MEMORY="2g", PYTHONPATH=repo_root)
    args = [sys.executable, "tests/medallion_crash_driver.py", src, derived, ckpt]

    # first run: killed mid-flip of the SECOND derived-lake merge
    p = subprocess.run(
        args,
        env=dict(base_env, LAPIDUS_FAILPOINT="lake_merge.before_manifest_flip:2"),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert p.returncode == -signal.SIGKILL, (p.returncode, p.stderr[-2000:])
    m = _read_manifest(derived)
    assert m is not None and m["version"] == 1  # batch 1 landed, batch 2 torn off
    assert os.path.exists(os.path.join(derived, LOCK_NAME))  # dead writer's lock

    # restart: resumes at the committed offset, replays batch 2, drains
    p = subprocess.run(args, env=base_env, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0 and "CHAIN_OK" in p.stdout, p.stderr[-2000:]

    cols = ["entity_id", "last_seq", "last_type", "item"]

    def rows(lake):
        df = _read_live(spark, lake, _read_manifest(lake))
        return sorted(
            map(
                tuple,
                df.select(
                    *cols, F.col("last_ts").cast("timestamp_ntz").alias("last_ts")
                ).collect(),
            )
        )

    src_rows, der_rows = rows(src), rows(derived)
    assert der_rows == src_rows  # full-history equality, tombstones included
    assert len(src_rows) > 0
    assert any(r[2] == "delete" for r in src_rows)  # the contract covers deletes


def test_row_changes_stream_matches_batch_per_step(spark, tmp_path):
    """rowChanges=true: the streamed pre/post-image rows of every
    version step must equal the batch lake_changes_rows diff for that
    step exactly — same vocabulary, same old-values pre-images —
    including across a lifecycle with updates, deletes, a compaction
    (zero rows, zero partitions) and a re-insert."""
    from lapidus_spark.streaming.materialize import (
        compact_lake,
        lake_changes_rows,
        merge_batch_into_lake,
    )

    lake = str(tmp_path / "lake")
    _build_lake(spark, lake, n_batches=3)  # versions 1..3
    compact_lake(spark, lake, target_files_per_bucket=0, retain_versions=7)  # v4
    env = normalize_events(load_table(spark, SF_DIR, "events"))
    merge_batch_into_lake(  # v5: fresh updates on top of the compacted state
        env.filter(F.col("event_seq") % 5 == 0).withColumn(
            "event_seq", F.col("event_seq") + 3_000_000
        ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 500 DAYS")),
        lake,
        n_buckets=None,
        retain_versions=7,
    )

    register_lake_cdf(spark)
    q = (
        spark.readStream.format("lake_cdf")
        .option("path", lake)
        .option("maxVersionsPerBatch", "1")
        .option("rowChanges", "true")
        .load()
        .writeStream.format("memory")
        .queryName("row_changes_stream")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    got = spark.table("row_changes_stream")

    cols = ["entity_id", "change_type", "last_seq", "last_ts", "last_type", "item"]
    for v in (1, 2, 3, 4, 5):
        streamed = sorted(
            map(
                tuple,
                got.filter(F.col("ver") == v)
                .select(*cols[:3], F.col("last_ts").cast("timestamp_ntz"), *cols[4:])
                .collect(),
            )
        )
        batch = sorted(
            map(
                tuple,
                lake_changes_rows(spark, lake, v - 1, v).select(*cols).collect(),
            )
        )
        assert streamed == batch, f"step {v}"
        if v == 4:
            assert streamed == []  # the compaction step is silent
        else:
            assert streamed  # every data step emits something
    # the vocabulary really appeared (pre-images included)
    kinds = {r[0] for r in got.select("change_type").distinct().collect()}
    assert {"insert", "update_preimage", "update_postimage"} <= kinds


def test_starting_version_latest_subscribes_from_now(spark, tmp_path):
    """startingVersion='latest' (Delta parity): history before stream
    start never replays; only commits made AFTER subscription arrive.
    A checkpointed restart keeps the committed offset as usual."""
    from lapidus_spark.streaming.materialize import merge_batch_into_lake

    lake = str(tmp_path / "lake")
    _build_lake(spark, lake, n_batches=2)  # versions 1, 2 — pre-subscription
    got0 = _drain(
        spark, lake, "cdf_latest", str(tmp_path / "ck"), startingVersion="latest"
    )
    assert got0 == []  # nothing replayed from before the subscription

    # offset semantics at the reader level (the memory sink cannot
    # recover a checkpoint, so the live-subscription continuation is
    # asserted on the reader API): a subscription opened at v2 has
    # its floor pinned there; a commit landing afterwards produces
    # exactly that version step, while a NEW latest subscription
    # opened after the commit starts at v3 and sees nothing.
    from lapidus_spark.streaming.lake_source import LakeCDFStreamReader

    reader = LakeCDFStreamReader({"path": lake, "startingversion": "latest"})
    assert reader.initialOffset() == {"version": 2}
    env = normalize_events(load_table(spark, SF_DIR, "events"))
    merge_batch_into_lake(  # version 3, after subscription
        env.filter(F.col("event_seq") % 2 == 0).withColumn(
            "event_seq", F.col("event_seq") + 4_000_000
        ),
        lake,
        retain_versions=4,
    )
    assert reader.latestOffset() == {"version": 3}
    parts = reader.partitions({"version": 2}, {"version": 3})
    assert parts and all(p.ver == 3 for p in parts)
    late = LakeCDFStreamReader({"path": lake, "startingversion": "latest"})
    assert late.initialOffset() == {"version": 3}
    # and an empty lake resolves "latest" to 0 (from-empty)
    empty = LakeCDFStreamReader({"path": str(tmp_path / "nope"), "startingversion": "latest"})
    assert empty.initialOffset() == {"version": 0}
    # RESTART posture: Spark never calls initialOffset on a
    # checkpointed restart, so "latest" must not have leaked into the
    # admission-control floor — maxVersionsPerBatch still rations the
    # backlog (a floor jumped to NOW-latest would plan it as one
    # unbounded batch)
    restarted = LakeCDFStreamReader(
        {"path": lake, "startingversion": "latest", "maxversionsperbatch": "1"}
    )
    assert restarted.latestOffset() == {"version": 1}  # rationed, not 3


def test_describe_history_kinds_and_data_change(spark, tmp_path):
    """DESCRIBE HISTORY: one row per retained version, newest first,
    with the operation inferred from the commit markers and the
    dataChange accounting that the change feeds key on (a compaction
    shows 0 data-changed buckets)."""
    from lapidus_spark.streaming.materialize import (
        compact_lake,
        describe_history,
        rebucket_lake,
    )

    lake = str(tmp_path / "lake")
    _build_lake(spark, lake, n_batches=2)  # v1, v2: merges
    compact_lake(spark, lake, target_files_per_bucket=0, retain_versions=6)  # v3
    rebucket_lake(spark, lake, new_n_buckets=4, retain_versions=6)  # v4
    hist = describe_history(lake)
    assert [h["version"] for h in hist] == [4, 3, 2, 1]
    assert [h["operation"] for h in hist] == ["rebucket", "compact", "merge", "merge"]
    assert hist[1]["data_changed_buckets"] == 0  # compaction: physical-only
    assert hist[2]["data_changed_buckets"] > 0
    assert hist[0]["is_live"] and hist[0]["n_buckets"] == 4
    assert not any(h["is_live"] for h in hist[1:])
    assert describe_history(lake, limit=2) == hist[:2]


def test_gold_chain_update_mode_exactly_once_across_sigkill(spark, tmp_path):
    """The update-mode gold layer's crash contract (VERDICT r8 #7):
    silver lake → rowChanges feed → update-mode signed fold →
    merge-upsert into a GOLD lake (measures as accreted columns),
    with the consumer SIGKILLed mid-commit of its second gold merge.
    The restart must resume from the checkpointed offsets with the
    recovered aggregation state, replay the un-acked batch
    idempotently (the re-emitted gold rows carry the same gold_ver,
    so the LWW upsert overwrites with identical content), break the
    dead writer's stale lock, and finish — leaving the gold snapshot
    EQUAL to the direct aggregate over the silver snapshot."""
    import os
    import signal
    import subprocess
    import sys

    from lapidus_spark.streaming.materialize import (
        LOCK_NAME,
        _read_pointer,
        read_lake_snapshot,
    )

    src = str(tmp_path / "silver")
    gold = str(tmp_path / "gold")
    ckpt = str(tmp_path / "ck")
    _build_lake(spark, src)  # versions 1..3, inserts/updates/deletes

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base_env = dict(os.environ, SPARK_DRIVER_MEMORY="2g", PYTHONPATH=repo_root)
    args = [sys.executable, "tests/gold_crash_driver.py", src, gold, ckpt]

    # first run: killed mid-flip of the SECOND gold-lake merge
    p = subprocess.run(
        args,
        env=dict(base_env, LAPIDUS_FAILPOINT="lake_merge.before_manifest_flip:2"),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert p.returncode == -signal.SIGKILL, (p.returncode, p.stderr[-2000:])
    ptr = _read_pointer(gold)
    assert ptr is not None and ptr["version"] == 1  # batch 1 landed, batch 2 torn
    assert os.path.exists(os.path.join(gold, LOCK_NAME))  # dead writer's lock

    # restart: recovers agg state + offsets, replays batch 2, drains
    p = subprocess.run(args, env=base_env, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0 and "GOLD_OK" in p.stdout, p.stderr[-2000:]

    silver_snap = read_lake_snapshot(spark, src)
    expected = sorted(
        map(
            tuple,
            silver_snap.groupBy(
                (F.col("entity_id").cast("long") % 10).alias("shard")
            )
            .agg(
                F.count("*").alias("n_entities"),
                F.sum("last_seq").alias("sum_seq"),
            )
            .collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            read_lake_snapshot(spark, gold)
            .select(
                F.col("entity_id").cast("long").alias("shard"),
                "n_entities",
                "sum_seq",
            )
            .filter(F.col("n_entities") > 0)
            .collect(),
        )
    )
    assert got == expected and len(got) > 0


def test_stream_feed_through_a_restore(spark, tmp_path):
    """A subscriber streaming THROUGH a restore commit: the restore
    reverts the table to a version predating some keys' first
    appearance, so the stream's per-bucket executor diff must go
    FULL OUTER and emit the vanished visible keys as deletes (NULL
    post-image in the entity feed; old values as the pre-image in the
    rowChanges feed) — exactly the batch twins' semantics, version
    step by version step."""
    from lapidus_spark.streaming.materialize import (
        lake_changes_rows,
        merge_batch_into_lake,
        restore_lake,
    )

    # synthetic corpus: every entity appears in exactly ONE batch
    # (inserts only, split by seq%3), so the restore makes batch-3's
    # whole key set VANISH — the regime the fixture events can't
    # produce (their users all exist by batch 2)
    env = spark.range(90).select(
        F.format_string("k%04d", F.col("id")).alias("pk"),
        F.col("id").alias("event_seq"),
        F.timestamp_seconds(F.col("id") * 3600 + 1_700_000_000)
        .cast("timestamp_ntz")
        .alias("ts"),
        F.lit("insert").alias("type"),
        F.format_string("p-%04d", F.col("id")).alias("item"),
    )
    lake = str(tmp_path / "lake")
    for i in range(3):
        merge_batch_into_lake(
            env.filter(F.col("event_seq") % 3 == i),
            lake,
            n_buckets=4,
            retain_versions=5,
        )
    restore_lake(lake, 2, retain_versions=5)  # version 4: batch-3 keys vanish

    # entity-state feed vs the batch twin, all four steps
    got = _drain(spark, lake, "cdf_restore_entity", str(tmp_path / "c1"))
    want = _batch_feed(spark, lake, versions=(1, 2, 3, 4))
    assert got == want
    # the restore step genuinely emits deletes for the vanished keys
    v4 = [r for r in got if r[-1] == 4]
    assert v4 and all(r[1] == "delete" for r in v4)

    # rowChanges feed vs its batch twin
    register_lake_cdf(spark)
    q = (
        spark.readStream.format("lake_cdf")
        .option("path", lake)
        .option("rowChanges", "true")
        .load()
        .writeStream.format("memory")
        .queryName("cdf_restore_rows")
        .option("checkpointLocation", str(tmp_path / "c2"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    got_rows = sorted(
        map(
            tuple,
            spark.table("cdf_restore_rows")
            .filter("ver = 4")
            .select("entity_id", "change_type", "last_seq", "item")
            .collect(),
        )
    )
    want_rows = sorted(
        map(
            tuple,
            lake_changes_rows(spark, lake, from_version=3, to_version=4)
            .select("entity_id", "change_type", "last_seq", "item")
            .collect(),
        )
    )
    assert got_rows == want_rows and len(got_rows) > 0
    # vanished keys carry the REMOVED content as the pre-image
    assert all(
        item is not None for (_e, c, _s, item) in got_rows if c == "delete"
    )
