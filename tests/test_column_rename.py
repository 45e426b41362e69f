"""RENAME COLUMN — metadata-only schema evolution beyond accretion
(VERDICT r9 'real producers widen AND rename'; Delta column-mapping's
rename posture, minus drop-column — which is what makes the exact
read-side coalesce across former names safe).

This file pins what the oracle gate cannot see: the zero-data-byte
contract, the reserved-former-name guard rails (writing under the old
name, or accreting a new column that takes it, must raise — old
files' data would silently resurrect into the wrong column), the
constraint interlock, time travel under pre-rename epochs, rename
chains and rename-back, and the alias chain surviving OPTIMIZE,
clone, DV deletes and type widening.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import lapidus_spark.streaming.materialize as M

COLS = ["entity_id", "last_seq", "last_ts", "last_type", "item"]


def _env(spark, n=60, start=0, extra=None, extra_name=None):
    cols = [
        F.format_string("k%04d", F.col("id") % 24).alias("pk"),
        F.col("id").alias("event_seq"),
        F.timestamp_seconds(F.col("id") * 3600 + 1_700_000_000)
        .cast("timestamp_ntz")
        .alias("ts"),
        F.lit("insert").alias("type"),
        F.format_string("payload-%04d", F.col("id")).alias("item"),
    ]
    if extra is not None:
        cols.append(extra.alias(extra_name))
    return spark.range(start, start + n).select(*cols)


def _snap_rows(spark, lake, cols, version=None):
    return sorted(
        tuple(r)
        for r in M.read_lake_snapshot(spark, lake, version=version)
        .select(*cols)
        .collect()
    )


def _build_renamed(spark, lake, retain=8):
    """shard accreted → renamed to zone → more data under zone."""
    M.merge_batch_into_lake(
        _env(spark, 30, 0, (F.col("id") % 7).cast("bigint"), "shard"),
        lake,
        n_buckets=4,
        retain_versions=retain,
        extra_cols=("shard",),
    )
    M.rename_lake_column(lake, "shard", "zone", retain_versions=retain)
    M.merge_batch_into_lake(
        _env(spark, 30, 30, (F.col("id") % 7).cast("bigint"), "zone"),
        lake,
        n_buckets=4,
        retain_versions=retain,
        extra_cols=("zone",),
    )


def test_rename_is_metadata_only_and_reads_span_epochs(spark, tmp_path):
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(
        _env(spark, 30, 0, (F.col("id") % 7).cast("bigint"), "shard"),
        lake,
        n_buckets=4,
        retain_versions=8,
        extra_cols=("shard",),
    )
    before = M._manifest_at(lake, None)
    res = M.rename_lake_column(lake, "shard", "zone", retain_versions=8)
    after = M._manifest_at(lake, None)
    assert res["version"] == before["version"] + 1
    assert after["buckets"] == before["buckets"], "rename moved bucket pointers"
    assert after["data_versions"] == before["data_versions"], (
        "a metadata-only rename must not stamp data changes"
    )
    assert after["columns"] == [{"name": "zone", "type": "bigint", "aliases": ["shard"]}]
    # post-rename batch under the new name: the snapshot's single
    # logical column spans pre-rename files (physical 'shard') and
    # post-rename files (physical 'zone')
    M.merge_batch_into_lake(
        _env(spark, 30, 30, (F.col("id") % 7).cast("bigint"), "zone"),
        lake,
        n_buckets=4,
        retain_versions=8,
        extra_cols=("zone",),
    )
    snap = M.read_lake_snapshot(spark, lake)
    assert "zone" in snap.columns and "shard" not in snap.columns
    got = {r["entity_id"]: r["zone"] for r in snap.collect()}
    # LWW winner for k%04d of entity e is the highest id ≡ e (mod 24)
    want = {f"k{e:04d}": (max(i for i in range(60) if i % 24 == e)) % 7 for e in range(24)}
    assert got == want


def test_old_versions_time_travel_under_their_own_epoch(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _build_renamed(spark, lake)
    v1 = M.read_lake_snapshot(spark, lake, version=1)
    assert "shard" in v1.columns and "zone" not in v1.columns
    assert {r["shard"] for r in v1.collect()} <= set(range(7))
    v2 = M.read_lake_snapshot(spark, lake, version=2)  # the rename commit
    assert "zone" in v2.columns and "shard" not in v2.columns
    # same data, new name: the rename version's values equal v1's
    assert _snap_rows(spark, lake, [*COLS, "zone"], version=2) == _snap_rows(
        spark, lake, [*COLS, "shard"], version=1
    )


def test_former_name_is_reserved_for_writes_and_accretion(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _build_renamed(spark, lake)
    with pytest.raises(ValueError, match="renamed to 'zone'"):
        M.merge_batch_into_lake(
            _env(spark, 5, 100, F.lit(1).cast("bigint"), "shard"),
            lake,
            n_buckets=4,
            retain_versions=8,
            extra_cols=("shard",),
        )
    # and a rename may not TAKE another column's current or former name
    M.merge_batch_into_lake(
        _env(spark, 5, 100, F.lit("x"), "region"),
        lake,
        n_buckets=4,
        retain_versions=8,
        extra_cols=("region",),
    )
    with pytest.raises(ValueError, match="belongs to column"):
        M.rename_lake_column(lake, "region", "shard", retain_versions=8)
    with pytest.raises(ValueError, match="belongs to column"):
        M.rename_lake_column(lake, "region", "zone", retain_versions=8)


def test_rename_back_and_chain(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _build_renamed(spark, lake)
    M.rename_lake_column(lake, "zone", "sector", retain_versions=8)
    cols = M._manifest_at(lake, None)["columns"]
    assert cols == [{"name": "sector", "type": "bigint", "aliases": ["shard", "zone"]}]
    # rename BACK to a former name of the same column: allowed, and
    # the returning name leaves the alias set
    M.rename_lake_column(lake, "sector", "shard", retain_versions=8)
    cols = M._manifest_at(lake, None)["columns"]
    assert cols == [{"name": "shard", "type": "bigint", "aliases": ["sector", "zone"]}]
    snap = M.read_lake_snapshot(spark, lake)
    assert "shard" in snap.columns
    assert snap.filter(F.col("shard").isNull()).count() == 0


def test_rename_unknown_or_core_or_colliding_raises(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _build_renamed(spark, lake)
    with pytest.raises(ValueError, match="no extra column"):
        M.rename_lake_column(lake, "nope", "x", retain_versions=8)
    with pytest.raises(ValueError, match="no extra column"):
        M.rename_lake_column(lake, "entity_id", "x", retain_versions=8)
    with pytest.raises(ValueError, match="core lake column"):
        M.rename_lake_column(lake, "zone", "last_seq", retain_versions=8)
    with pytest.raises(ValueError, match="writer-internal"):
        M.rename_lake_column(lake, "zone", "pb", retain_versions=8)
    with pytest.raises(ValueError, match="plain identifier"):
        M.rename_lake_column(lake, "zone", "bad name", retain_versions=8)
    # no-op rename returns the live version without committing
    v = M._manifest_at(lake, None)["version"]
    assert M.rename_lake_column(lake, "zone", "zone", retain_versions=8)["version"] == v


def test_constraint_referencing_column_blocks_rename(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _build_renamed(spark, lake)
    M.add_constraint(spark, lake, "zone_range", "zone BETWEEN 0 AND 6")
    with pytest.raises(ValueError, match="CHECK constraint 'zone_range'"):
        M.rename_lake_column(lake, "zone", "sector", retain_versions=8)
    M.drop_constraint(lake, "zone_range")
    M.rename_lake_column(lake, "zone", "sector", retain_versions=8)
    assert M._manifest_at(lake, None)["columns"][0]["name"] == "sector"


def test_optimize_materializes_new_name_and_keeps_reads_exact(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _build_renamed(spark, lake)
    want = _snap_rows(spark, lake, [*COLS, "zone"])
    M.compact_lake(spark, lake, target_files_per_bucket=0, retain_versions=8)
    assert _snap_rows(spark, lake, [*COLS, "zone"]) == want
    # the rewrite wrote files under the CURRENT logical name, so a
    # post-OPTIMIZE snapshot resolves with or without the alias —
    # but the alias stays recorded (older retained versions' files
    # still carry the former name)
    cols = M._manifest_at(lake, None)["columns"]
    assert cols == [{"name": "zone", "type": "bigint", "aliases": ["shard"]}]


def test_clone_carries_alias_chain(spark, tmp_path):
    lake, dst = str(tmp_path / "lake"), str(tmp_path / "clone")
    _build_renamed(spark, lake)
    M.clone_lake(lake, dst)
    assert M._manifest_at(dst, None)["columns"] == [
        {"name": "zone", "type": "bigint", "aliases": ["shard"]}
    ]
    assert _snap_rows(spark, dst, [*COLS, "zone"]) == _snap_rows(
        spark, lake, [*COLS, "zone"]
    )


@pytest.mark.usefixtures("distributed_path")
def test_rename_step_is_free_for_change_feeds(spark, tmp_path, monkeypatch):
    """A rename commit is data_change=False with zero touched
    buckets: the CDF streaming source plans zero partitions across
    it and the batch feed reads zero buckets — consumers keyed on
    the core columns never restart for a rename (the feeds emit core
    columns only, so their schema is rename-stable by construction)."""
    from lapidus_spark.streaming.lake_source import LakeCDFStreamReader

    lake = str(tmp_path / "lake")
    _build_renamed(spark, lake)  # v1 data, v2 rename, v3 data
    v = M._read_manifest(lake)["version"]
    M.rename_lake_column(lake, "zone", "sector", retain_versions=8)

    reader = LakeCDFStreamReader({"path": lake})
    assert reader.partitions({"version": v}, {"version": v + 1}) == []

    def boom(*a, **k):
        raise AssertionError("a rename-only diff must not read any bucket")

    from lapidus_spark.lake import log as lake_log

    monkeypatch.setattr(lake_log, "_read_live", boom)
    assert M.lake_changes(spark, lake, from_version=v, to_version=v + 1).count() == 0


def test_occ_merge_conflicts_on_concurrent_rename(spark, tmp_path):
    """An optimistic merge staged against the pre-rename manifest
    must NOT clobber the rename at flip time: the changed columns
    epoch is an OCC conflict (merge._occ_conflicts), the recompute
    re-resolves under the renamed schema, and a batch still writing
    under the former name surfaces the reserved-name error to the
    writer instead of resurrecting old files' data."""
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(
        _env(spark, 30, 0, (F.col("id") % 7).cast("bigint"), "shard"),
        lake,
        n_buckets=4,
        retain_versions=8,
        extra_cols=("shard",),
    )
    renamed = []

    def hook(attempt):
        if not renamed:
            M.rename_lake_column(lake, "shard", "zone", retain_versions=8)
            renamed.append(True)

    with pytest.raises(ValueError, match="renamed to 'zone'"):
        M.merge_batch_optimistic(
            _env(spark, 10, 30, (F.col("id") % 7).cast("bigint"), "shard"),
            lake,
            n_buckets=4,
            retain_versions=8,
            extra_cols=("shard",),
            _race_hook=hook,
        )
    # the rename survived the race
    assert M._manifest_at(lake, None)["columns"] == [
        {"name": "zone", "type": "bigint", "aliases": ["shard"]}
    ]


def test_cli_rename_and_dv_delete(spark, tmp_path, capsys):
    import pytest as _pt

    from lapidus_spark.__main__ import main

    lake = str(tmp_path / "lake")
    # batch 1 predates the column (no extra_cols), batch 2 accretes it
    M.merge_batch_into_lake(
        _env(spark, 30, 0), lake, n_buckets=4, retain_versions=4
    )
    M.merge_batch_into_lake(
        _env(spark, 30, 30, (F.col("id") % 7).cast("bigint"), "shard"),
        lake,
        n_buckets=4,
        retain_versions=4,
        extra_cols=("shard",),
    )
    assert main(
        ["--rename-column", lake, "--old", "shard", "--new", "zone",
         "--retain-versions", "4"]
    ) == 0
    assert "metadata-only, zero data bytes" in capsys.readouterr().out
    assert M._manifest_at(lake, None)["columns"][0]["name"] == "zone"
    before = M._manifest_at(lake, None)["buckets"]
    assert main(
        ["--delete", lake, "--where", "zone = 1", "--delete-mode", "dv",
         "--retain-versions", "4"]
    ) == 0
    assert "deletion vector" in capsys.readouterr().out
    assert M._manifest_at(lake, None)["buckets"] == before  # zero data bytes
    with _pt.raises(SystemExit):
        main(["--rename-column", lake, "--old", "zone"])  # missing --new


def test_rename_composes_with_widening_and_dv_delete(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _build_renamed(spark, lake)
    # widen the RENAMED column: int batch would no-op (bigint pinned);
    # widen bigint→? nothing wider, so widen a fresh int column, then
    # rename it — type carries through the rename
    M.merge_batch_into_lake(
        _env(spark, 10, 60, (F.col("id") % 3).cast("int"), "lvl"),
        lake,
        n_buckets=4,
        retain_versions=8,
        extra_cols=("lvl",),
    )
    M.rename_lake_column(lake, "lvl", "tier", retain_versions=8)
    M.merge_batch_into_lake(
        _env(spark, 10, 70, (F.col("id") + 3_000_000_000).cast("bigint"), "tier"),
        lake,
        n_buckets=4,
        retain_versions=8,
        extra_cols=("tier",),
    )
    cols = {c["name"]: c for c in M._manifest_at(lake, None)["columns"]}
    assert cols["tier"]["type"] == "bigint" and cols["tier"]["aliases"] == ["lvl"]
    big = M.read_lake_snapshot(spark, lake).filter(F.col("tier") > 2_000_000_000)
    assert big.count() == 10
    # a DV delete post-rename masks rows whose files carry the OLD
    # physical name — the nulling happens post-align on logical names
    before = M.read_lake_snapshot(spark, lake).count()
    res = M.delete_from_lake(
        spark, lake, "zone = 3 AND last_type <> 'delete'", mode="dv",
        retain_versions=8,
    )
    assert res["deleted_rows"] > 0
    snap = M.read_lake_snapshot(spark, lake)
    # masked rows read as tombstones and leave the visible snapshot
    # (one physical row per entity in the merged files)
    assert snap.count() == before - res["deleted_rows"]
    assert snap.filter(F.col("zone") == 3).count() == 0


def test_cli_rename_default_keeps_pre_rename_version(spark, tmp_path):
    """Regression (round-10 review): bare --rename-column must use
    the library default retain_versions=2 — the pre-rename version
    stays time-travelable under its own epoch, like --restore keeps
    the undone version."""
    from lapidus_spark.__main__ import main

    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(
        _env(spark, 20, 0, (F.col("id") % 7).cast("bigint"), "shard"),
        lake,
        n_buckets=4,
        retain_versions=1,
        extra_cols=("shard",),
    )
    assert main(["--rename-column", lake, "--old", "shard", "--new", "zone"]) == 0
    v1 = M.read_lake_snapshot(spark, lake, version=1)
    assert "shard" in v1.columns and v1.count() > 0


def test_case_variant_constraint_blocks_rename(spark, tmp_path):
    """Regression (round-10 advice): Spark resolves identifiers
    case-insensitively (spark.sql.caseSensitive=false), so a
    constraint written as 'ZONE >= 0' binds to column `zone` — the
    rename interlock must catch case-variant references, or every
    post-rename merge dies at constraint enforcement."""
    lake = str(tmp_path / "lake")
    _build_renamed(spark, lake)
    M.add_constraint(spark, lake, "zone_up", "ZONE BETWEEN 0 AND 6")
    with pytest.raises(ValueError, match="CHECK constraint 'zone_up'"):
        M.rename_lake_column(lake, "zone", "sector", retain_versions=8)
    M.drop_constraint(lake, "zone_up")
    M.rename_lake_column(lake, "zone", "sector", retain_versions=8)


def test_rename_reconciles_declared_stats_columns(spark, tmp_path):
    """The declared stats_columns follow a RENAME in the same metadata
    flip: left under the former name, every later OPTIMIZE would adopt
    a dead identifier and silently stop recording zone maps for the
    renamed column (the declare-once table-property contract)."""
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(
        _env(spark, 30, 0, (F.col("id") % 7).cast("bigint"), "shard"),
        lake,
        n_buckets=4,
        retain_versions=8,
        extra_cols=("shard",),
    )
    M.compact_lake(
        spark, lake, retain_versions=8, max_records_per_file=8,
        target_files_per_bucket=0,  # single-exchange staging lands
        # 1 file/bucket on tiny batches: force the declaring rewrite
        stats_columns=("shard",),
    )
    M.rename_lake_column(lake, "shard", "zone", retain_versions=8)
    m = M._read_manifest(lake)
    assert m["stats_columns"] == ["zone"]
    # new data + a forced ADOPTING compaction (stats_columns=None)
    # keep recording maps under the NEW name
    M.merge_batch_into_lake(
        _env(spark, 30, 30, (F.col("id") % 7).cast("bigint"), "zone"),
        lake,
        n_buckets=4,
        retain_versions=8,
        extra_cols=("zone",),
    )
    res = M.compact_lake(
        spark, lake, target_files_per_bucket=0, retain_versions=8,
        max_records_per_file=8,
    )
    assert res["compacted_buckets"] > 0
    m2 = M._read_manifest(lake)
    assert m2["stats_columns"] == ["zone"]
    assert m2["file_stats"]
    for fs in m2["file_stats"].values():
        for entry in fs.values():
            assert "zone" in entry
