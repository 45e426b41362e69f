"""Per-column data skipping (VERDICT r10 #4 — Delta's
dataSkippingStatsColumns posture): a clustered OPTIMIZE records
per-file min/max for DECLARED payload columns alongside the
entity/time zone maps, and ``lake_skip_read`` prunes files on any
mapped column. Pinned here: the ranges are recorded and exact,
predicate reads open strictly fewer files while returning exactly
the scan-and-filter rows, conjunctions prune on every mapped column,
lakes/buckets without stats fall back whole, the declaration is
adopted by later compactions (table-property semantics), unknown
columns are refused, and a merge moving a bucket's pointer drops its
maps (conservative re-read)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import lapidus_spark.streaming.materialize as M

COLS = ["entity_id", "last_seq", "last_ts", "last_type", "item", "band"]


def _env(spark, n=600, start=0):
    return spark.range(start, start + n).select(
        F.format_string("k%04d", F.col("id") % 240).alias("pk"),
        F.col("id").alias("event_seq"),
        F.timestamp_seconds(F.col("id") * 60 + 1_700_000_000)
        .cast("timestamp_ntz")
        .alias("ts"),
        F.lit("insert").alias("type"),
        F.format_string("payload-%04d", F.col("id")).alias("item"),
        # lexically correlated with the entity_id sort: after a
        # clustered OPTIMIZE each file's band range is narrow
        F.substring(F.format_string("k%04d", F.col("id") % 240), 3, 2).alias("band"),
    )


def _build(spark, lake, declare=("band",)):
    M.merge_batch_into_lake(
        _env(spark), lake, n_buckets=4, retain_versions=4, extra_cols=("band",)
    )
    M.compact_lake(
        spark,
        lake,
        retain_versions=4,
        target_files_per_bucket=0,  # single-exchange merge staging
        # lands 1 file/bucket on tiny batches: force the rewrite
        max_records_per_file=20,  # force multi-file buckets
        stats_columns=declare,
    )
    return M._read_manifest(lake)


def test_declared_column_ranges_are_recorded_and_exact(spark, tmp_path):
    lake = str(tmp_path / "lake")
    m = _build(spark, lake)
    assert m["stats_columns"] == ["band"]
    stats = m["file_stats"]
    assert set(stats) == set(m["buckets"])
    rows = M._read_live(spark, lake, m).select("bucket", "band", "entity_id").collect()
    # coverage: every live row's band falls inside its file's range
    # (located via the disjoint entity_id ranges)
    for r in rows:
        hit = [
            e
            for e in stats[str(r["bucket"])].values()
            if e["entity_id"][0] <= r["entity_id"] <= e["entity_id"][1]
        ]
        assert len(hit) == 1 and "band" in hit[0]
        lo, hi = hit[0]["band"]
        assert lo <= r["band"] <= hi


@pytest.mark.usefixtures("scan_path")
def test_skip_read_opens_fewer_files_and_matches_filter(spark, tmp_path):
    lake = str(tmp_path / "lake")
    m = _build(spark, lake)
    total_files = sum(len(fs) for fs in m["file_stats"].values())
    assert total_files > 8  # the valve really split
    df = M.lake_skip_read(spark, lake, {"band": ("03", "04")})
    opened = df.inputFiles()
    assert 0 < len(opened) < total_files  # the fewer-files proof
    live = M._read_live(spark, lake, m)
    expected = sorted(
        map(
            tuple,
            live.filter(
                (F.col("last_type") != "delete") & F.col("band").between("03", "04")
            )
            .select(*COLS)
            .collect(),
        )
    )
    assert sorted(map(tuple, df.select(*COLS).collect())) == expected
    assert len(expected) > 0


@pytest.mark.usefixtures("scan_path")
def test_conjunction_prunes_on_both_columns(spark, tmp_path):
    lake = str(tmp_path / "lake")
    m = _build(spark, lake)
    one = M.lake_skip_read(spark, lake, {"band": ("03", "09")})
    both = M.lake_skip_read(
        spark, lake, {"band": ("03", "09"), "entity_id": ("k0030", "k0049")}
    )
    assert len(both.inputFiles()) <= len(one.inputFiles())
    live = M._read_live(spark, lake, m)
    expected = sorted(
        map(
            tuple,
            live.filter(
                (F.col("last_type") != "delete")
                & F.col("band").between("03", "09")
                & F.col("entity_id").between("k0030", "k0049")
            )
            .select(*COLS)
            .collect(),
        )
    )
    assert sorted(map(tuple, both.select(*COLS).collect())) == expected
    assert len(expected) > 0


def test_open_ended_and_equality_ranges(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _build(spark, lake)
    eq = M.lake_skip_read(spark, lake, {"band": ("07", "07")})
    got = {r["band"] for r in eq.select("band").distinct().collect()}
    assert got == {"07"}
    lo_open = M.lake_skip_read(spark, lake, {"band": (None, "01")})
    assert {r["band"] for r in lo_open.select("band").distinct().collect()} == {
        "00", "01",
    }


def test_fallback_without_stats_is_exact(spark, tmp_path):
    """No OPTIMIZE → no maps: every bucket reads whole and the result
    is still exactly the filtered snapshot."""
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(
        _env(spark), lake, n_buckets=4, retain_versions=4, extra_cols=("band",)
    )
    df = M.lake_skip_read(spark, lake, {"band": ("03", "04")})
    m = M._read_manifest(lake)
    live = M._read_live(spark, lake, m)
    expected = sorted(
        map(
            tuple,
            live.filter(
                (F.col("last_type") != "delete") & F.col("band").between("03", "04")
            )
            .select(*COLS)
            .collect(),
        )
    )
    assert sorted(map(tuple, df.select(*COLS).collect())) == expected


@pytest.mark.usefixtures("scan_path")
def test_undeclared_column_reads_whole_but_filters_exact(spark, tmp_path):
    """Stats declared for band only: an item predicate cannot prune
    (no recorded ranges) but the result is still exact."""
    lake = str(tmp_path / "lake")
    m = _build(spark, lake, declare=("band",))
    # winners carry items payload-0360..0599 (the LWW max id per key)
    df = M.lake_skip_read(spark, lake, {"item": ("payload-0400", "payload-0499")})
    total_files = sum(len(fs) for fs in m["file_stats"].values())
    assert len(df.inputFiles()) == total_files  # nothing prunable
    assert df.count() == 100


def test_declaration_adopted_by_later_compactions(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _build(spark, lake)  # declares ("band",)
    # new merges re-degrade some buckets and drop their maps
    M.merge_batch_into_lake(
        _env(spark, 200, 600), lake, n_buckets=None, retain_versions=4,
        extra_cols=("band",),
    )
    # stats_columns=None ADOPTS the recorded declaration
    M.compact_lake(
        spark, lake, retain_versions=4, max_records_per_file=20,
        target_files_per_bucket=0,  # the merge left 1-file buckets: force
    )
    m = M._read_manifest(lake)
    assert m["stats_columns"] == ["band"]
    for fs in m["file_stats"].values():
        assert all("band" in e for e in fs.values())


def test_validation(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _build(spark, lake)
    with pytest.raises(ValueError, match="not a payload column"):
        M.compact_lake(spark, lake, stats_columns=("nope",))
    with pytest.raises(ValueError, match="unknown column"):
        M.lake_skip_read(spark, lake, {"nope": (1, 2)})
    with pytest.raises(ValueError, match="must be \\(lo, hi\\)"):
        M.lake_skip_read(spark, lake, {"band": "x"})
    with pytest.raises(ValueError, match="fully open"):
        M.lake_skip_read(spark, lake, {"band": (None, None)})
    with pytest.raises(ValueError, match="non-empty unless in_values"):
        M.lake_skip_read(spark, lake, {})
    with pytest.raises(ValueError, match="no non-null values"):
        M.lake_skip_read(spark, lake, {}, in_values={"band": [None]})
    with pytest.raises(ValueError, match="must be a\\s+sequence"):
        M.lake_skip_read(spark, lake, {}, in_values={"band": "03"})


def test_merge_drops_maps_conservatively(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _build(spark, lake)
    M.merge_batch_into_lake(
        _env(spark, 50, 600), lake, n_buckets=None, retain_versions=4,
        extra_cols=("band",),
    )
    m = M._read_manifest(lake)
    touched = {
        b for b in m["buckets"] if b not in m.get("file_stats", {})
    }
    assert touched  # the merge really dropped some buckets' maps
    df = M.lake_skip_read(spark, lake, {"band": ("03", "04")})
    live = M._read_live(spark, lake, m)
    expected = sorted(
        map(
            tuple,
            live.filter(
                (F.col("last_type") != "delete") & F.col("band").between("03", "04")
            )
            .select(*COLS)
            .collect(),
        )
    )
    assert sorted(map(tuple, df.select(*COLS).collect())) == expected


def test_cli_compact_with_stats_columns(spark, tmp_path, capsys):
    from lapidus_spark.__main__ import main

    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(
        _env(spark), lake, n_buckets=4, retain_versions=4, extra_cols=("band",)
    )
    assert main([
        "--compact", lake,
        "--target-files-per-bucket", "0",
        "--max-records-per-file", "20",
        "--stats-columns", "band",
        "--retain-versions", "4",
    ]) == 0
    assert "compacted 4 bucket(s)" in capsys.readouterr().out
    m = M._read_manifest(lake)
    assert m["stats_columns"] == ["band"]
    assert all(
        "band" in e for fs in m["file_stats"].values() for e in fs.values()
    )


@pytest.mark.usefixtures("scan_path")
def test_time_axis_composes_into_the_conjunction(spark, tmp_path):
    """last_ts joins the conjunction: pruning uses the same per-file
    time maps lake_time_read does, and mixing a column range with a
    time window opens no more files than either alone."""
    from datetime import datetime

    lake = str(tmp_path / "lake")
    m = _build(spark, lake)
    lo, hi = datetime(2023, 11, 15, 6, 0), datetime(2023, 11, 15, 7, 0)
    both = M.lake_skip_read(
        spark, lake, {"band": ("03", "09"), "last_ts": (lo, hi)}
    )
    band_only = M.lake_skip_read(spark, lake, {"band": ("03", "09")})
    assert len(both.inputFiles()) <= len(band_only.inputFiles())
    live = M._read_live(spark, lake, m)
    ts = F.col("last_ts").cast("timestamp_ntz")
    expected = sorted(
        map(
            tuple,
            live.filter(
                (F.col("last_type") != "delete")
                & F.col("band").between("03", "09")
                & (ts >= F.lit(lo)) & (ts <= F.lit(hi))
            )
            .select(*COLS)
            .collect(),
        )
    )
    assert sorted(map(tuple, both.select(*COLS).collect())) == expected
    assert len(expected) > 0
    # ISO-string bounds are accepted too
    iso = M.lake_skip_read(
        spark, lake,
        {"band": ("03", "09"), "last_ts": (lo.isoformat(), hi.isoformat())},
    )
    assert sorted(map(tuple, iso.select(*COLS).collect())) == expected


def test_mistyped_bounds_raise_descriptive_valueerror(spark, tmp_path):
    """A bound whose Python type cannot compare with the column's
    recorded stats fails as a descriptive ValueError in the validation
    loop (the function's validated posture) — never as an unhandled
    TypeError inside the pruning comparison on the driver."""
    lake = str(tmp_path / "lake")
    _build(spark, lake)
    # string-typed declared column, numeric bounds
    with pytest.raises(ValueError, match="must be a string"):
        M.lake_skip_read(spark, lake, {"band": (3, 4)})
    # string-typed core column (entity_id), numeric bound
    with pytest.raises(ValueError, match="must be a string"):
        M.lake_skip_read(spark, lake, {"entity_id": (1, None)})
    # numeric-typed declared column, string bounds
    lake2 = str(tmp_path / "lake2")
    M.merge_batch_into_lake(
        _env(spark).withColumn("shard", (F.col("event_seq") % 7).cast("bigint")),
        lake2,
        n_buckets=4,
        retain_versions=4,
        extra_cols=("band", "shard"),
    )
    M.compact_lake(
        spark, lake2, retain_versions=4, max_records_per_file=20,
        stats_columns=("shard",),
    )
    with pytest.raises(ValueError, match="must be a number"):
        M.lake_skip_read(spark, lake2, {"shard": ("a", "b")})
    # a boolean is not a number (bool <: int in Python; refused anyway)
    with pytest.raises(ValueError, match="must be a number"):
        M.lake_skip_read(spark, lake2, {"shard": (True, None)})
    # well-typed probes on the same lakes still answer
    assert M.lake_skip_read(spark, lake, {"band": ("03", "04")}).count() > 0
    assert M.lake_skip_read(spark, lake2, {"shard": (2, 3)}).count() > 0
