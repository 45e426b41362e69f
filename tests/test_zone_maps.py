"""Clustered OPTIMIZE + manifest zone maps: compaction sorts each
bucket by entity_id, records per-file [min, max] ranges from the
staged parquet footers, and ``lake_point_read`` opens only the files
whose range overlaps a requested key — the OPTIMIZE-ZORDER payoff on
the bucket-key dimension. At 100 TB a k-key lookup touches ≤1 file
per key regardless of how many files the valve split a bucket into.
Staleness rule: a bucket whose pointer moves (merge, rebucket) drops
its stats — readers fall back to the full dir, conservative."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lapidus_spark.sources.cdc import normalize_events
from lapidus_spark.sources.tables import load_table
from tests.conftest import SF_DIR

COLS = ["entity_id", "last_seq", "last_ts", "last_type", "item"]


def _env(spark, n=600):
    """Synthetic envelope corpus wide enough that a 20-record valve
    splits every bucket into several files (the sf0.001 events table
    has ~15 entities — far too few to exercise file splitting)."""
    return spark.range(n).select(
        F.format_string("k%04d", F.col("id")).alias("pk"),
        F.col("id").alias("event_seq"),
        F.timestamp_seconds(F.col("id") + 1_700_000_000)
        .cast("timestamp_ntz")
        .alias("ts"),
        F.lit("insert").alias("type"),
        F.format_string("payload-%04d", F.col("id")).alias("item"),
    )


def _build(spark, lake, valve=20):
    """Three merges then a clustered compaction with a small valve so
    every bucket splits into several range-disjoint files."""
    import lapidus_spark.streaming.materialize as M

    env = _env(spark)
    for i in range(3):
        M.merge_batch_into_lake(
            env.filter(F.col("event_seq") % 3 == i), lake, retain_versions=6
        )
    res = M.compact_lake(
        spark,
        lake,
        target_files_per_bucket=0,
        max_records_per_file=valve,
        retain_versions=6,
    )
    assert res["compacted_buckets"] > 0
    return M._read_manifest(lake)


def test_clustered_compaction_records_disjoint_zone_maps(spark, tmp_path):
    """Every compacted bucket carries per-file stats; within a bucket
    the sorted valve splits have non-overlapping [min, max] ranges,
    and the union of ranges covers every live key of that bucket."""
    import lapidus_spark.streaming.materialize as M

    lake = str(tmp_path / "lake")
    m = _build(spark, lake)
    stats = m["file_stats"]
    assert set(stats) == set(m["buckets"])  # every bucket got stats
    multi = 0
    for b, files in stats.items():
        ranges = sorted(tuple(e["entity_id"]) for e in files.values())
        multi += len(ranges) > 1
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert lo1 <= hi1 < lo2 <= hi2  # disjoint, ordered
        # the time dimension rides along: every file carries a
        # last_ts [min, max] (ISO, naive-UTC, fixed precision)
        for e in files.values():
            lo_ts, hi_ts = e["last_ts"]
            assert lo_ts <= hi_ts and "T" in lo_ts
    assert multi > 0  # the valve really split buckets into files
    # coverage: every live entity of a bucket falls inside some range
    rows = M._read_live(spark, lake, m).select("entity_id", "bucket").collect()
    for r in rows:
        rs = [e["entity_id"] for e in stats[str(r["bucket"])].values()]
        assert any(lo <= r["entity_id"] <= hi for lo, hi in rs)


@pytest.mark.usefixtures("distributed_path")
def test_point_read_opens_one_file_per_key(spark, tmp_path):
    """After OPTIMIZE, a point read's plan references exactly the
    overlapping files — ≤1 per requested key — and returns the same
    rows as an unpruned scan-and-filter."""
    import lapidus_spark.streaming.materialize as M

    lake = str(tmp_path / "lake")
    m = _build(spark, lake)
    live = M._read_live(spark, lake, m)
    # MID-RANGE keys from DISTINCT buckets — the hard case: every
    # bucket's sorted files tile its full key span, so a key tested
    # against a foreign bucket's ranges would falsely overlap one
    # file there; pruning must test each bucket's files against its
    # OWN resident keys only for the ≤1-file-per-key bound to hold.
    by_bucket: dict = {}
    for r in live.select("bucket", "entity_id").collect():  # 600-row test lake
        by_bucket.setdefault(r["bucket"], []).append(r["entity_id"])
    per_bucket = {b: sorted(ks)[len(ks) // 2] for b, ks in by_bucket.items()}
    keys = sorted(per_bucket.values())[:4]
    assert len(keys) >= 3
    df = M.lake_point_read(spark, lake, keys)
    opened = df.inputFiles()
    assert 0 < len(opened) <= len(keys)  # ≤1 file per resident key
    total_files = sum(len(fs) for fs in m["file_stats"].values())
    assert len(opened) < total_files  # strictly better than bucket pruning
    expected = sorted(
        map(
            tuple,
            live.filter(
                (F.col("last_type") != "delete") & F.col("entity_id").isin(keys)
            )
            .select(*COLS)
            .collect(),
        )
    )
    assert sorted(map(tuple, df.select(*COLS).collect())) == expected


def test_merge_invalidates_stats_and_read_stays_correct(spark, tmp_path):
    """A merge moving a bucket's pointer drops that bucket's zone
    maps (they describe files the manifest no longer names); a point
    read for a key in that bucket falls back to the whole dir and is
    still exact, while other buckets keep their pruning."""
    import lapidus_spark.streaming.materialize as M

    lake = str(tmp_path / "lake")
    m = _build(spark, lake)
    victim = (
        _env(spark)
        .orderBy("pk", "event_seq")
        .limit(1)
        .withColumn("event_seq", F.col("event_seq") + 9_000_000)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 3000 DAYS"))
        .withColumn("type", F.lit("update"))
        .withColumn("item", F.lit("post-optimize"))
    )
    key = str(victim.select("pk").first()[0])
    M.merge_batch_into_lake(victim, lake, retain_versions=6)
    m2 = M._read_manifest(lake)
    merged_bucket = next(b for b, v in m2["data_versions"].items() if v == m2["version"])
    assert merged_bucket not in m2.get("file_stats", {})  # stats dropped
    assert len(m2["file_stats"]) == len(m["file_stats"]) - 1  # others kept
    got = M.lake_point_read(spark, lake, [key]).select("entity_id", "last_seq", "item").collect()
    assert [(r[0], r[1], r[2]) for r in got] == [(key, got[0][1], "post-optimize")]
    assert got[0][1] >= 9_000_000


def test_optimistic_compaction_stats_only_for_kept_buckets(spark, tmp_path):
    """The optimistic OPTIMIZE records zone maps only for the buckets
    its partial apply actually flipped; a bucket lost to a concurrent
    merge gets no stats entry (its pointer is the merge's)."""
    import lapidus_spark.streaming.materialize as M

    lake = str(tmp_path / "lake")
    env = _env(spark)
    for i in range(3):
        M.merge_batch_into_lake(
            env.filter(F.col("event_seq") % 3 == i), lake, retain_versions=6
        )

    interloper = (
        env.orderBy("pk", "event_seq")
        .limit(1)
        .withColumn("event_seq", F.col("event_seq") + 7_000_000)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 2500 DAYS"))
        .withColumn("type", F.lit("update"))
    )

    def race():
        M.merge_batch_into_lake(interloper, lake, retain_versions=6)

    res = M._compact_optimistic(
        spark, lake, 0, 20, retain_versions=6, _race_hook=race
    )
    assert res["skipped_buckets"] == 1 and res["compacted_buckets"] > 0
    m = M._read_manifest(lake)
    lost = next(b for b, v in m["data_versions"].items() if v == res["version"] - 1)
    assert lost not in m["file_stats"]
    assert len(m["file_stats"]) == res["compacted_buckets"]


def test_rebucket_resets_zone_maps(spark, tmp_path):
    """A rebucket replaces the whole layout: every zone map describes
    dead pointers, so none survive the flip."""
    import lapidus_spark.streaming.materialize as M

    lake = str(tmp_path / "lake")
    _build(spark, lake)
    M.rebucket_lake(spark, lake, new_n_buckets=4, retain_versions=6)
    m = M._read_manifest(lake)
    assert "file_stats" not in m
    # reads still exact through the new layout
    key = M._read_live(spark, lake, m).select("entity_id").first()[0]
    assert M.lake_point_read(spark, lake, [key]).count() in (0, 1)


@pytest.mark.usefixtures("distributed_path")
def test_time_read_prunes_files_after_clustered_optimize(spark, tmp_path):
    """Time-dimension zone maps (the r8 'what's missing' #5): after a
    clustered OPTIMIZE, a ts-range read opens only the files whose
    footer-recorded last_ts range overlaps the window — in this
    fixture keys correlate with time (ids assigned over time), so a
    narrow window opens a small fraction of the files — and returns
    exactly the rows a full-scan-and-filter would."""
    from datetime import datetime, timedelta

    import lapidus_spark.streaming.materialize as M

    lake = str(tmp_path / "lake")
    m = _build(spark, lake)
    total_files = sum(len(fs) for fs in m["file_stats"].values())
    assert total_files > len(m["buckets"])  # valve really split files

    epoch = datetime(1970, 1, 1)
    lo = epoch + timedelta(seconds=1_700_000_000 + 50)
    hi = epoch + timedelta(seconds=1_700_000_000 + 150)
    df = M.lake_time_read(spark, lake, lo, hi)
    opened = df.inputFiles()
    assert 0 < len(opened) < total_files  # real file-level pruning
    expected = sorted(
        map(
            tuple,
            M._read_live(spark, lake, m)
            .filter(
                (F.col("last_type") != "delete")
                & (F.col("last_ts") >= F.lit(lo))
                & (F.col("last_ts") < F.lit(hi))
            )
            .select(*COLS)
            .collect(),
        )
    )
    assert len(expected) == 100  # ids 50..149: one row per second
    assert sorted(map(tuple, df.select(*COLS).collect())) == expected
    # ISO-string bounds are accepted too
    df2 = M.lake_time_read(spark, lake, lo.isoformat(), hi.isoformat())
    assert sorted(map(tuple, df2.select(*COLS).collect())) == expected


def test_time_read_falls_back_without_stats_and_stays_exact(spark, tmp_path):
    """A merge drops its bucket's stats → the time read falls back to
    the whole bucket dir for that bucket (conservative) and the
    result is still exact, including the freshly merged row."""
    from datetime import datetime, timedelta

    import lapidus_spark.streaming.materialize as M

    lake = str(tmp_path / "lake")
    _build(spark, lake)
    bump = (
        _env(spark)
        .orderBy("pk", "event_seq")
        .limit(1)
        .withColumn("event_seq", F.col("event_seq") + 9_000_000)
        .withColumn(
            "ts",
            F.timestamp_seconds(F.lit(1_700_000_000 + 70)).cast("timestamp_ntz"),
        )
        .withColumn("type", F.lit("update"))
        .withColumn("item", F.lit("in-window"))
    )
    M.merge_batch_into_lake(bump, lake, retain_versions=6)
    epoch = datetime(1970, 1, 1)
    lo = epoch + timedelta(seconds=1_700_000_000 + 50)
    hi = epoch + timedelta(seconds=1_700_000_000 + 150)
    df = M.lake_time_read(spark, lake, lo, hi)
    got = {(r["entity_id"], r["item"]) for r in df.collect()}
    assert ("k0000", "in-window") in got
    m = M._read_manifest(lake)
    expected = sorted(
        map(
            tuple,
            M._read_live(spark, lake, m)
            .filter(
                (F.col("last_type") != "delete")
                & (F.col("last_ts") >= F.lit(lo))
                & (F.col("last_ts") < F.lit(hi))
            )
            .select(*COLS)
            .collect(),
        )
    )
    assert sorted(map(tuple, df.select(*COLS).collect())) == expected
