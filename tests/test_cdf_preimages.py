"""Row-level change feed with pre-images (``lake_changes_rows``):
Delta CDF's full ``_change_type`` vocabulary over the lake's consumer
view, and the retraction algebra it enables (signed folds = direct
aggregates). The sf-scale value parity lives in the registered
queries ``lake_cdf_preimages`` / ``lake_gold_incremental``; these
tests pin the semantics a value hash can under-specify: the exact
vocabulary, the tombstone-refresh silence, per-step telescoping, and
the zero-read compaction skip shared with the entity-state feed."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F


def _mk_env(spark, rows):
    """rows: (pk, seq, day, type, item) — day indexes a fixed date."""
    return spark.createDataFrame(
        [(pk, seq, datetime(2024, 1, day), typ, item) for pk, seq, day, typ, item in rows],
        "pk string, event_seq bigint, ts timestamp_ntz, type string, item string",
    )


def _feed(spark, lake, v_from, v_to):
    from lapidus_spark.streaming.materialize import lake_changes_rows

    return sorted(
        map(
            tuple,
            lake_changes_rows(spark, lake, v_from, v_to)
            .select("entity_id", "change_type", "last_seq", "item")
            .collect(),
        )
    )


def test_vocabulary_insert_update_delete(spark, tmp_path):
    """One version step exercising all four row kinds at once:
    an insert emits new values; an update emits the OLD row as
    update_preimage and the NEW row as update_postimage; a delete
    emits the REMOVED content (old values), never the tombstone."""
    from lapidus_spark.streaming.materialize import merge_batch_into_lake

    lake = str(tmp_path / "lake")
    merge_batch_into_lake(
        _mk_env(
            spark,
            [("a", 1, 1, "insert", "a1"), ("b", 2, 1, "insert", "b1")],
        ),
        lake,
        retain_versions=4,
    )
    merge_batch_into_lake(
        _mk_env(
            spark,
            [
                ("a", 10, 2, "update", "a2"),  # update of a
                ("b", 11, 2, "delete", None),  # delete of b
                ("c", 12, 2, "insert", "c1"),  # fresh insert
            ],
        ),
        lake,
        retain_versions=4,
    )
    assert _feed(spark, lake, 1, 2) == [
        ("a", "update_postimage", 10, "a2"),
        ("a", "update_preimage", 1, "a1"),
        ("b", "delete", 2, "b1"),
        ("c", "insert", 12, "c1"),
    ]


def test_tombstone_refresh_emits_nothing(spark, tmp_path):
    """A newer tombstone over an existing tombstone changes the
    STORED row (the entity-state feed lake_changes reports it) but
    the logical row stays absent→absent: the row-level feed is
    silent. A later re-insert after the tombstone is an insert."""
    from lapidus_spark.streaming.materialize import lake_changes, merge_batch_into_lake

    lake = str(tmp_path / "lake")
    merge_batch_into_lake(_mk_env(spark, [("a", 1, 1, "delete", None)]), lake, retain_versions=6)
    merge_batch_into_lake(_mk_env(spark, [("a", 2, 2, "delete", None)]), lake, retain_versions=6)
    merge_batch_into_lake(_mk_env(spark, [("a", 3, 3, "insert", "a3")]), lake, retain_versions=6)
    # v1→v2: tombstone refreshed — entity-state feed sees it, row feed silent
    assert lake_changes(spark, lake, 1, 2).count() == 1
    assert _feed(spark, lake, 1, 2) == []
    # v2→v3: re-insert after delete is an INSERT (no preimage row)
    assert _feed(spark, lake, 2, 3) == [("a", "insert", 3, "a3")]
    # and from empty, only the final visible row arrives
    assert _feed(spark, lake, 0, 3) == [("a", "insert", 3, "a3")]


def test_preimages_telescope_across_steps(spark, tmp_path):
    """Every step's update_preimage must be BIT-IDENTICAL to the
    previous steps' latest post-state for that entity — both are the
    same stored lake row. This telescoping is what makes the signed
    fold (lake_gold_incremental) exact with no per-entity state."""
    from lapidus_spark.sources.cdc import normalize_events
    from lapidus_spark.sources.tables import load_table
    from lapidus_spark.streaming.materialize import lake_changes_rows, merge_batch_into_lake
    from tests.conftest import SF_DIR

    env = normalize_events(load_table(spark, SF_DIR, "events"))
    lake = str(tmp_path / "lake")
    for i in range(3):
        merge_batch_into_lake(
            env.filter(F.col("event_seq") % 3 == i), lake, retain_versions=5
        )
    cols = ["entity_id", "last_seq", "last_ts", "last_type", "item"]
    state: dict = {}
    for v in (1, 2, 3):
        rows = lake_changes_rows(spark, lake, v - 1, v).select(
            "change_type", *cols
        ).collect()
        pre = {r["entity_id"]: tuple(r[c] for c in cols) for r in rows if r["change_type"] == "update_preimage"}
        if v > 1:
            assert pre, f"step {v} must update something"
        for eid, vals in pre.items():
            assert state[eid] == vals  # pre-image == previous post-state, exactly
        for r in rows:
            if r["change_type"] in ("insert", "update_postimage"):
                state[r["entity_id"]] = tuple(r[c] for c in cols)
            elif r["change_type"] == "delete":
                state.pop(r["entity_id"], None)
    # the folded state equals the final consumer view
    from lapidus_spark.streaming.materialize import read_lake_snapshot

    final = {
        r["entity_id"]: tuple(r[c] for c in cols)
        for r in read_lake_snapshot(spark, lake).select(*cols).collect()
    }
    assert state == final


@pytest.mark.usefixtures("distributed_path")
def test_compaction_step_is_free_for_row_feed(spark, tmp_path, monkeypatch):
    """The row-level feed shares the entity-state feed's stamp-refined
    pruning: a compaction-only version step reads ZERO buckets."""
    import lapidus_spark.streaming.materialize as M
    from lapidus_spark.sources.cdc import normalize_events
    from lapidus_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    env = normalize_events(load_table(spark, SF_DIR, "events"))
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(env, lake, retain_versions=6)
    res = M.compact_lake(spark, lake, target_files_per_bucket=0, retain_versions=6)
    assert res["compacted_buckets"] > 0

    def boom(*a, **k):
        raise AssertionError("compaction-only diff must not read any bucket")

    from lapidus_spark.lake import log as lake_log

    monkeypatch.setattr(lake_log, "_read_live", boom)
    assert M.lake_changes_rows(spark, lake, 1, 2).count() == 0


def test_negative_from_version_raises(spark, tmp_path):
    from lapidus_spark.streaming.materialize import lake_changes_rows, merge_batch_into_lake

    lake = str(tmp_path / "lake")
    merge_batch_into_lake(_mk_env(spark, [("a", 1, 1, "insert", "x")]), lake)
    with pytest.raises(ValueError, match="from_version must be >= 0"):
        lake_changes_rows(spark, lake, -1)
