"""Lake merge planning: the fixed per-call cost of ``merge_batch_into_lake``.

Pinned here: the touched-bucket set comes from ONE observed Spark job
(no exchange) and equals the distinct ``pmod(xxhash64(pk), n)`` set on
every batch shape, NULL keys included; a whole unconstrained merge
launches at most three Spark jobs; an unevolved frame passes
``_align_extras`` untouched; the SQL-text staging plan resolves
keyword-named extra columns; and a touched set that misses a written
bucket is refused by ``_stage_commit`` with the table left as it was.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import lapidus_spark.streaming.materialize as M
from lapidus_spark.lake import log, merge


def _env(spark, n=200, seq0=0):
    return spark.range(n).select(
        F.format_string("k%03d", F.col("id")).alias("pk"),
        (F.col("id") + seq0).alias("event_seq"),
        F.timestamp_seconds(F.col("id") * 60 + 1_700_000_000 + seq0)
        .cast("timestamp_ntz")
        .alias("ts"),
        F.lit("update").alias("type"),
        F.format_string("payload-%04d", F.col("id") + seq0).alias("item"),
    )


def _jobs_of(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, "lake merge job audit")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _reference_touched(batch, n_buckets):
    bucket = F.pmod(F.xxhash64("pk"), F.lit(n_buckets)).cast("int")
    return sorted(r[0] for r in batch.select(bucket).distinct().collect())


def _batch(spark, kind):
    env = _env(spark)
    if kind == "empty":
        return env.filter(F.lit(False))
    if kind == "one_key":
        return env.filter(F.col("pk") == "k042")
    if kind == "every_bucket":
        return env
    assert kind == "null_pk"
    return env.filter(F.col("event_seq") < 3).withColumn(
        "pk", F.when(F.col("event_seq") == 0, F.lit(None)).otherwise(F.col("pk"))
    )


@pytest.mark.parametrize("n_buckets", [1, 7, 8])
@pytest.mark.parametrize("kind", ["empty", "one_key", "every_bucket", "null_pk"])
def test_touched_set_is_one_job_and_equals_distinct(spark, kind, n_buckets):
    batch = _batch(spark, kind)
    got, jobs = _jobs_of(
        spark,
        f"touched_{kind}_{n_buckets}",
        lambda: merge._touched_of_raw(batch, n_buckets),
    )
    assert len(jobs) == 1, f"touched set ran {len(jobs)} Spark jobs: {jobs}"
    want = _reference_touched(batch, n_buckets)
    assert got == want
    if kind == "every_bucket":
        assert want == list(range(n_buckets))
    if kind == "empty":
        assert got == []


def test_unconstrained_merge_launches_at_most_three_jobs(spark, tmp_path):
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(_env(spark, 500), lake)
    v0 = M._read_manifest(lake)["version"]
    _, jobs = _jobs_of(
        spark,
        "merge_job_audit",
        lambda: M.merge_batch_into_lake(_env(spark, 80, seq0=10_000), lake),
    )
    assert len(jobs) <= 3, f"merge ran {len(jobs)} Spark jobs: {jobs}"
    assert M._read_manifest(lake)["version"] == v0 + 1


def test_align_extras_passes_a_canonical_frame_through(spark):
    updates = merge._snapshot_shape(_env(spark, 5), 8)
    assert updates.columns == log._LAKE_COLS
    assert log._align_extras(updates, []) is updates
    widened = log._align_extras(updates, [{"name": "amount", "type": "bigint"}])
    assert widened.columns == [*log._LAKE_COLS, "amount"]


def test_keyword_named_extra_survives_the_sql_projection(spark):
    """The staging plan is SQL text: an extra column named like a SQL
    keyword must still resolve as a column."""
    env = _env(spark, 6).withColumn("order", F.col("event_seq") * 10)
    rows = merge._lww_combine(merge._snapshot_shape(env, 8, ("order",)), ("order",))
    assert rows.columns == [*log._LAKE_COLS, "order"]
    assert sorted(r["order"] for r in rows.collect()) == [0, 10, 20, 30, 40, 50]


def test_touched_written_mismatch_refuses_and_cleans_up(spark, tmp_path, monkeypatch):
    """The staging write derives its buckets from the data, the flip
    from the touched set: if the two ever disagree, ``_stage_commit``
    refuses the commit and the staging dir is removed, so the table
    stays at its version with no orphan ``commits/<v>``."""
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(_env(spark, 100), lake, n_buckets=8)
    before = M._read_manifest(lake)
    snap_before = sorted(map(tuple, M.read_lake_snapshot(spark, lake).collect()))
    real = merge._touched_of_raw

    def drops_one(batch_df, n_buckets):
        touched = real(batch_df, n_buckets)
        assert len(touched) > 1
        return touched[1:]

    monkeypatch.setattr(merge, "_touched_of_raw", drops_one)
    with pytest.raises(RuntimeError, match="publish wrote buckets"):
        M.merge_batch_into_lake(_env(spark, 100, seq0=5_000), lake, n_buckets=8)
    after = M._read_manifest(lake)
    assert after["version"] == before["version"]
    assert after["buckets"] == before["buckets"]
    staged = f"commits/{before['version'] + 1:010d}"
    assert not os.path.exists(os.path.join(lake, staged))
    assert sorted(map(tuple, M.read_lake_snapshot(spark, lake).collect())) == snap_before
