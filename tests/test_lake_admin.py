"""Table administration commands — the Delta-parity surface:
RESTORE TO VERSION (metadata-only undo commit), explicit VACUUM
(retention-floor raise + reclaim), DELETE WHERE (predicate tombstone
flip), OPTIMIZE ZORDER BY (multi-axis clustering), SHALLOW CLONE
(zero-copy fork, copy-on-write buckets).

Value-level parity for each command's registered query lives in
tests/test_oracle_parity.py; this file pins the INVARANTS the oracle
cannot see: which files a command writes (or provably does not),
which pointers move, what CDF consumers observe across the commit,
and how the commands compose with compaction, schema evolution and
rebucketing.
"""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

import lapidus_spark.streaming.materialize as M

COLS = ["entity_id", "last_seq", "last_ts", "last_type", "item"]


def _env(spark, n=240, scramble_ts=False):
    """Synthetic envelopes. ``scramble_ts`` decorrelates the time
    axis from the key axis ((id*7919) % n is a permutation of 0..n-1
    when gcd(7919, n) = 1) — the regime where Z-order beats a
    single-dimension sort."""
    ts_base = (F.col("id") * 7919) % n if scramble_ts else F.col("id")
    return spark.range(n).select(
        F.format_string("k%04d", F.col("id")).alias("pk"),
        F.col("id").alias("event_seq"),
        F.timestamp_seconds(ts_base * 3600 + 1_700_000_000)
        .cast("timestamp_ntz")
        .alias("ts"),
        F.lit("insert").alias("type"),
        F.format_string("payload-%04d", F.col("id")).alias("item"),
    )


def _snap(spark, lake, version=None):
    return sorted(
        tuple(r) for r in M.read_lake_snapshot(spark, lake, version=version)
        .select(*COLS)
        .collect()
    )


def _build3(spark, lake, n=240, retain=6, n_buckets=4):
    env = _env(spark, n)
    for i in range(3):
        M.merge_batch_into_lake(
            env.filter(F.col("event_seq") % 3 == i),
            lake,
            n_buckets=n_buckets,
            retain_versions=retain,
        )
    return env


def _parquet_files(lake):
    return sorted(glob.glob(os.path.join(lake, "commits", "*", "pb=*", "*.parquet")))


# ---------------------------------------------------------------------------
# RESTORE
# ---------------------------------------------------------------------------


def test_restore_is_metadata_only_and_reverts_live(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _build3(spark, lake)
    want = _snap(spark, lake, version=2)
    files_before = _parquet_files(lake)
    res = M.restore_lake(lake, 2, retain_versions=6)
    assert res["version"] == 4 and res["restored_from"] == 2
    assert res["restored_buckets"] > 0 and not res["replace_all"]
    # METADATA-ONLY: not one data file written, none removed
    assert _parquet_files(lake) == files_before
    assert _snap(spark, lake) == want
    # history stays append-only: the undone version 3 still reads
    assert len(_snap(spark, lake, version=3)) >= len(want)


def test_restore_cdf_is_the_inverse_diff(spark, tmp_path):
    """The restore commit's row-level feed is exactly the retraction
    of the undone batch: inserts↔deletes mirrored, update pre/post
    images swapped."""
    lake = str(tmp_path / "lake")
    _build3(spark, lake)
    M.restore_lake(lake, 2, retain_versions=6)

    def feed(frm, to):
        rows = M.lake_changes_rows(spark, lake, from_version=frm, to_version=to).collect()
        return {
            (r["entity_id"], r["change_type"], r["last_seq"], r["item"]) for r in rows
        }

    fwd, back = feed(2, 3), feed(3, 4)
    flip = {
        "insert": "delete",
        "delete": "insert",
        "update_preimage": "update_postimage",
        "update_postimage": "update_preimage",
    }
    assert back == {(e, flip[c], s, i) for (e, c, s, i) in fwd}
    assert len(fwd) > 0


def test_restore_skips_physical_only_divergence(spark, tmp_path):
    """Only compactions landed since the target: content already
    equals the target, so restore refuses to publish an empty commit
    — and never undoes the better-packed files."""
    lake = str(tmp_path / "lake")
    _build3(spark, lake)
    res = M.compact_lake(
        spark, lake, target_files_per_bucket=0, retain_versions=6
    )  # v4, physical-only rewrite of every bucket
    assert res["compacted_buckets"] > 0
    res = M.restore_lake(lake, 3, retain_versions=6)
    assert res["restored_buckets"] == 0
    assert M._read_manifest(lake)["version"] == 4  # no empty commit


def test_restore_repoints_only_content_changed_buckets(spark, tmp_path):
    """A merge that touched k of B buckets is undone by repointing
    exactly those k — untouched buckets keep their pointers, stamps
    and zone maps."""
    lake = str(tmp_path / "lake")
    env = _env(spark, 240)
    M.merge_batch_into_lake(env, lake, n_buckets=4, retain_versions=6)
    # second merge touches a strict subset of buckets
    M.merge_batch_into_lake(
        env.filter(F.col("pk") == "k0001").withColumn(
            "event_seq", F.col("event_seq") + 1000
        ),
        lake,
        n_buckets=None,
        retain_versions=6,
    )
    m2 = M._read_manifest(lake)
    touched_by_merge = [b for b, v in m2["data_versions"].items() if v == 2]
    assert 0 < len(touched_by_merge) < m2["n_buckets"]
    res = M.restore_lake(lake, 1, retain_versions=6)
    assert res["restored_buckets"] == len(touched_by_merge)
    m3 = M._read_manifest(lake)
    m1 = M._manifest_at(lake, 1)
    for b in m2["buckets"]:
        if b in touched_by_merge:
            assert m3["buckets"][b] == m1["buckets"][b]
        else:
            assert m3["buckets"][b] == m2["buckets"][b]


def test_restore_across_rebucket_replaces_layout(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _build3(spark, lake, n_buckets=4)
    want = _snap(spark, lake, version=2)
    M.rebucket_lake(spark, lake, 8, retain_versions=6)  # v4
    res = M.restore_lake(lake, 2, retain_versions=6)
    assert res["replace_all"] is True
    m = M._read_manifest(lake)
    assert m["n_buckets"] == 4  # the target's layout is live again
    assert _snap(spark, lake) == want


def test_restore_reverts_schema_epoch(spark, tmp_path):
    lake = str(tmp_path / "lake")
    env = _env(spark, 120)
    M.merge_batch_into_lake(env, lake, n_buckets=4, retain_versions=6)
    M.merge_batch_into_lake(
        env.withColumn("event_seq", F.col("event_seq") + 1000).withColumn(
            "shard", F.col("event_seq") % 5
        ),
        lake,
        n_buckets=None,
        retain_versions=6,
        extra_cols=("shard",),
    )
    assert "shard" in M.read_lake_snapshot(spark, lake).columns
    M.restore_lake(lake, 1, retain_versions=6)
    assert "shard" not in M.read_lake_snapshot(spark, lake).columns
    # the evolved version keeps its own epoch for time travel
    assert "shard" in M.read_lake_snapshot(spark, lake, version=2).columns


def test_restore_unretained_or_noop(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _build3(spark, lake, retain=2)  # v1 GC'd by the v3 merge
    with pytest.raises(ValueError, match="no retained version"):
        M.restore_lake(lake, 1)
    res = M.restore_lake(lake, 3)
    assert res["restored_buckets"] == 0  # restore-to-live is a no-op


# ---------------------------------------------------------------------------
# VACUUM
# ---------------------------------------------------------------------------


def test_vacuum_reclaims_expired_versions(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _build3(spark, lake, retain=6)
    want = _snap(spark, lake)
    dry = M.vacuum_lake(lake, retain_versions=1, dry_run=True)
    # dry run mutates nothing: old versions still resolve
    assert _snap(spark, lake, version=1)
    assert dry["dry_run"] and dry["reclaimable_dirs"] == 2  # v1, v2 dirs
    real = M.vacuum_lake(lake, retain_versions=1)
    assert (real["reclaimable_dirs"], real["reclaimable_files"], real["reclaimable_bytes"]) == (
        dry["reclaimable_dirs"],
        dry["reclaimable_files"],
        dry["reclaimable_bytes"],
    )
    assert real["reclaimable_bytes"] > 0
    # live intact, expired reads fail fast with the retention error
    assert _snap(spark, lake) == want
    for v in (1, 2):
        with pytest.raises(ValueError, match="no retained version"):
            M.read_lake_snapshot(spark, lake, version=v)
    # the expired commit dirs are physically gone
    dirs = set(os.listdir(os.path.join(lake, "commits")))
    assert dirs == {f"{3:010d}"}
    # idempotent: nothing left to reclaim
    again = M.vacuum_lake(lake, retain_versions=1)
    assert again["reclaimable_dirs"] == 0


def test_vacuum_spares_fresh_staging_orphans(spark, tmp_path):
    """A nonce-named commit dir younger than the grace window may be
    a live optimistic writer's staged-not-yet-flipped commit — vacuum
    must leave it; an aged one is a crashed writer's orphan and goes."""
    lake = str(tmp_path / "lake")
    _build3(spark, lake, retain=1)
    fresh = os.path.join(lake, "commits", "0000000099.deadbeef")
    os.makedirs(fresh)
    with open(os.path.join(fresh, "stub.parquet"), "w") as f:
        f.write("x")
    rep = M.vacuum_lake(lake, retain_versions=1)
    assert os.path.isdir(fresh)  # spared: inside the grace window
    assert rep["reclaimable_dirs"] == 0
    rep2 = M.vacuum_lake(lake, retain_versions=1, grace_seconds=0.0)
    assert rep2["reclaimable_dirs"] == 1
    assert not os.path.isdir(fresh)  # aged out: reclaimed


def test_vacuum_validates(spark, tmp_path):
    with pytest.raises(ValueError, match="no manifest"):
        M.vacuum_lake(str(tmp_path / "nolake"))
    lake = str(tmp_path / "lake")
    _build3(spark, lake)
    with pytest.raises(ValueError, match="retain_versions"):
        M.vacuum_lake(lake, retain_versions=0)


# ---------------------------------------------------------------------------
# DELETE WHERE
# ---------------------------------------------------------------------------


def test_delete_where_flips_tombstones_and_feeds_cdf(spark, tmp_path):
    lake = str(tmp_path / "lake")
    env = _env(spark, 240)
    M.merge_batch_into_lake(env, lake, n_buckets=4, retain_versions=6)
    res = M.delete_from_lake(
        spark, lake, "entity_id LIKE '%3'", retain_versions=6
    )
    assert res["deleted_rows"] == 24  # k0003, k0013, ... k0233
    snap = M.read_lake_snapshot(spark, lake)
    assert snap.filter("entity_id LIKE '%3'").count() == 0
    assert snap.count() == 240 - 24
    # keys stay physically present as tombstones (CDF completeness)
    live = M._read_live(spark, lake, M._read_manifest(lake))
    tombs = live.filter("last_type = 'delete'")
    assert tombs.count() == 24
    assert tombs.filter(F.col("item").isNotNull()).count() == 0  # payload redacted
    # the feed emits the redaction as deletes CARRYING the old content
    feed = M.lake_changes_rows(spark, lake, from_version=1, to_version=2)
    dels = feed.filter("change_type = 'delete'").collect()
    assert len(dels) == 24
    assert all(r["item"] is not None for r in dels)  # pre-images


def test_delete_where_rewrites_only_matching_buckets(spark, tmp_path):
    lake = str(tmp_path / "lake")
    env = _env(spark, 240)
    M.merge_batch_into_lake(env, lake, n_buckets=8, retain_versions=6)
    m1 = M._read_manifest(lake)
    res = M.delete_from_lake(spark, lake, "entity_id = 'k0005'", retain_versions=6)
    assert res["deleted_rows"] == 1 and res["deleted_buckets"] == 1
    m2 = M._read_manifest(lake)
    moved = [b for b in m1["buckets"] if m1["buckets"][b] != m2["buckets"][b]]
    assert len(moved) == 1  # k·(table/B): one bucket rewritten
    # untouched buckets keep their data_versions stamps (CDF skip)
    for b in m1["buckets"]:
        if b not in moved:
            assert m2["data_versions"][b] == m1["data_versions"][b]


def test_delete_where_no_match_and_idempotence(spark, tmp_path):
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(_env(spark, 60), lake, n_buckets=4, retain_versions=6)
    res = M.delete_from_lake(spark, lake, "entity_id = 'nope'")
    assert res == {"version": 1, "deleted_buckets": 0, "deleted_rows": 0}
    M.delete_from_lake(spark, lake, "entity_id = 'k0007'")
    # already tombstoned: a second identical delete matches nothing
    res3 = M.delete_from_lake(spark, lake, "entity_id = 'k0007'")
    assert res3["deleted_rows"] == 0 and res3["version"] == 2


def test_delete_where_on_accreted_column(spark, tmp_path):
    """The predicate sees the epoch's evolved schema; redaction nulls
    the accreted payload columns too."""
    lake = str(tmp_path / "lake")
    env = _env(spark, 60).withColumn("shard", F.col("event_seq") % 5)
    M.merge_batch_into_lake(
        env, lake, n_buckets=4, retain_versions=6, extra_cols=("shard",)
    )
    res = M.delete_from_lake(spark, lake, "shard = 2", retain_versions=6)
    assert res["deleted_rows"] == 12
    snap = M.read_lake_snapshot(spark, lake)
    assert snap.filter("shard = 2").count() == 0
    assert snap.count() == 48
    live = M._read_live(spark, lake, M._read_manifest(lake))
    assert live.filter("last_type = 'delete'").filter(
        F.col("shard").isNotNull()
    ).count() == 0


# ---------------------------------------------------------------------------
# OPTIMIZE ZORDER
# ---------------------------------------------------------------------------


def _zlake(spark, tmp_path, cluster_by, n=256, valve=16):
    lake = str(tmp_path / ("lake_" + "_".join(cluster_by)))
    M.merge_batch_into_lake(
        _env(spark, n, scramble_ts=True), lake, n_buckets=2, retain_versions=2
    )
    res = M.compact_lake(
        spark,
        lake,
        target_files_per_bucket=0,
        max_records_per_file=valve,
        cluster_by=cluster_by,
        retain_versions=2,
    )
    assert res["compacted_buckets"] == 2
    return lake


@pytest.mark.usefixtures("scan_path")
def test_zorder_prunes_both_axes(spark, tmp_path):
    """On a corpus whose key and time axes are INDEPENDENT, the
    single-dimension sort prunes only its own axis (a time window
    opens every file); the Z-order layout opens a strict subset of
    files on BOTH axes from the same zone maps."""
    from datetime import datetime, timedelta

    zlake = _zlake(spark, tmp_path, ("entity_id", "last_ts"))
    elake = _zlake(spark, tmp_path, ("entity_id",))
    total = len(_parquet_files(zlake))
    assert total == len(_parquet_files(elake)) and total >= 16
    lo = datetime(2023, 11, 14, 22, 13, 20)  # epoch 1_700_000_000
    window = (lo + timedelta(hours=8), lo + timedelta(hours=40))  # 1/8 of the span

    z_time = M.lake_time_read(spark, zlake, *window)
    e_time = M.lake_time_read(spark, elake, *window)
    assert sorted(r["entity_id"] for r in z_time.collect()) == sorted(
        r["entity_id"] for r in e_time.collect()
    )
    # entity-sorted files each span ~the whole scrambled time axis
    # (almost no time pruning); Z-ordered files stay narrow on time
    # too — strictly better, and at most half the files for a 1/8
    # window.
    assert len(z_time.inputFiles()) < len(e_time.inputFiles())
    assert len(z_time.inputFiles()) <= total // 2

    z_pt = M.lake_point_read(spark, zlake, ["k0100"])
    e_pt = M.lake_point_read(spark, elake, ["k0100"])
    assert [r["entity_id"] for r in z_pt.collect()] == ["k0100"] == [
        r["entity_id"] for r in e_pt.collect()
    ]
    # the trade: lexical sort gives the ≤1-file guarantee, Z-order
    # still opens a strict subset (narrow, not disjoint, ranges)
    assert len(e_pt.inputFiles()) == 1
    assert 1 <= len(z_pt.inputFiles()) <= total // 2


def test_zorder_convergence_and_rearm(spark, tmp_path):
    lake = _zlake(spark, tmp_path, ("entity_id", "last_ts"))
    res = M.compact_lake(
        spark,
        lake,
        target_files_per_bucket=0,
        max_records_per_file=16,
        cluster_by=("entity_id", "last_ts"),
        retain_versions=2,
    )
    assert res["compacted_buckets"] == 0  # convergent under same layout
    res2 = M.compact_lake(
        spark,
        lake,
        target_files_per_bucket=0,
        max_records_per_file=16,
        cluster_by=("entity_id",),
        retain_versions=2,
    )
    assert res2["compacted_buckets"] == 2  # requested re-layout re-arms


def test_zorder_validates_cluster_by(spark, tmp_path):
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(_env(spark, 20), lake, n_buckets=2)
    for bad in (("item",), ("entity_id", "entity_id"), (), ("entity_id", "last_ts", "item")):
        with pytest.raises(ValueError, match="cluster_by"):
            M.compact_lake(spark, lake, cluster_by=bad)


# ---------------------------------------------------------------------------
# SHALLOW CLONE
# ---------------------------------------------------------------------------


def test_clone_is_zero_copy_and_cow(spark, tmp_path):
    src = str(tmp_path / "src")
    _build3(spark, src, retain=6)
    want_v2 = _snap(spark, src, version=2)
    dst = str(tmp_path / "dst")
    res = M.clone_lake(src, dst, version=2)
    assert res["cloned_from"]["version"] == 2
    # zero-copy: the clone wrote no data files at all
    assert _parquet_files(dst) == []
    assert _snap(spark, dst) == want_v2
    src_ptr = json.load(open(os.path.join(src, M.MANIFEST_NAME)))
    src_files = _parquet_files(src)
    # copy-on-write: a merge into the clone localizes ONLY its
    # touched buckets; the source is never written
    M.merge_batch_into_lake(
        _env(spark, 240)
        .filter(F.col("pk") == "k0001")
        .withColumn("event_seq", F.col("event_seq") + 9000),
        dst,
        n_buckets=None,
        retain_versions=6,
    )
    m = M._read_manifest(dst)
    local = [b for b, rel in m["buckets"].items() if not os.path.isabs(rel)]
    remote = [b for b, rel in m["buckets"].items() if os.path.isabs(rel)]
    assert len(local) >= 1 and len(remote) >= 1
    assert json.load(open(os.path.join(src, M.MANIFEST_NAME))) == src_ptr
    assert _parquet_files(src) == src_files
    assert _snap(spark, src, version=2) == want_v2


def test_clone_compaction_severs_the_source(spark, tmp_path):
    """OPTIMIZE on the clone rewrites every bucket into clone-local
    dirs: afterwards not one read path touches the source — the
    documented escape hatch from the shallow-clone GC hazard."""
    src = str(tmp_path / "src")
    _build3(spark, src, retain=6)
    dst = str(tmp_path / "dst")
    M.clone_lake(src, dst)
    res = M.compact_lake(spark, dst, target_files_per_bucket=0, retain_versions=1)
    assert res["compacted_buckets"] > 0
    m = M._read_manifest(dst)
    assert all(not os.path.isabs(rel) for rel in m["buckets"].values())
    files = M.read_lake_snapshot(spark, dst).inputFiles()
    assert files and all(os.path.realpath(src) not in f for f in files)


def test_clone_validates(spark, tmp_path):
    src = str(tmp_path / "src")
    with pytest.raises(ValueError, match="no manifest"):
        M.clone_lake(src, str(tmp_path / "d0"))
    _build3(spark, src, retain=2)
    with pytest.raises(ValueError, match="no retained version"):
        M.clone_lake(src, str(tmp_path / "d1"), version=1)
    dst = str(tmp_path / "d2")
    M.clone_lake(src, dst)
    with pytest.raises(ValueError, match="already a lake"):
        M.clone_lake(src, dst)


# ---------------------------------------------------------------------------
# TIMESTAMP AS OF + DESCRIBE DETAIL
# ---------------------------------------------------------------------------


def test_timestamp_travel_resolves_commit_instants(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _build3(spark, lake)
    hist = {r["version"]: r["committed_at"] for r in M.describe_history(lake)}
    assert set(hist) == {1, 2, 3}
    assert hist[1] < hist[2] < hist[3]  # strictly increasing stamps
    # exactly at v2's instant → v2; between v2 and v3 → still v2
    assert M.lake_version_at(lake, hist[2]) == 2
    from datetime import datetime, timezone

    t2 = datetime.fromisoformat(hist[2])
    t3 = datetime.fromisoformat(hist[3])
    mid = t2 + (t3 - t2) / 2
    assert M.lake_version_at(lake, mid) == 2
    assert M.lake_version_at(lake, datetime.now(timezone.utc)) == 3
    want = _snap(spark, lake, version=2)
    assert (
        sorted(
            tuple(r)
            for r in M.read_lake_snapshot(spark, lake, timestamp=hist[2])
            .select(*COLS)
            .collect()
        )
        == want
    )
    # before the oldest retained commit: the honest retention error
    with pytest.raises(ValueError, match="no retained version committed"):
        M.lake_version_at(lake, t2 - (t3 - t2) * 1000)
    with pytest.raises(ValueError, match="not both"):
        M.read_lake_snapshot(spark, lake, version=2, timestamp=hist[2])


def test_timestamp_travel_expires_with_vacuum(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _build3(spark, lake)
    hist = {r["version"]: r["committed_at"] for r in M.describe_history(lake)}
    M.vacuum_lake(lake, retain_versions=1)
    with pytest.raises(ValueError, match="no retained version committed"):
        M.lake_version_at(lake, hist[1])
    assert M.lake_version_at(lake, hist[3]) == 3


def test_describe_detail(spark, tmp_path):
    lake = str(tmp_path / "lake")
    env = _env(spark, 60).withColumn("shard", F.col("event_seq") % 5)
    M.merge_batch_into_lake(
        env, lake, n_buckets=4, retain_versions=6, extra_cols=("shard",)
    )
    M.delete_from_lake(spark, lake, "entity_id = 'k0007'", retain_versions=6)
    d = M.describe_detail(lake)
    assert d["version"] == 2 and d["n_buckets"] == 4
    assert d["num_rows"] == 60  # physical rows incl. the tombstone
    assert d["columns"] == ["shard"]
    assert d["num_files"] >= 4 and d["size_bytes"] > 0
    assert "committed_at" in d and "cloned_from" not in d
    d1 = M.describe_detail(lake, version=1)
    assert d1["version"] == 1 and d1["num_rows"] == 60
    clone = str(tmp_path / "clone")
    M.clone_lake(lake, clone)
    dc = M.describe_detail(clone)
    assert dc["cloned_from"]["version"] == 2 and dc["num_rows"] == 60


# ---------------------------------------------------------------------------
# OCC × RESTORE interplay
# ---------------------------------------------------------------------------


def test_restore_conflicts_optimistic_merge(spark, tmp_path):
    """A restore committed between an optimistic merge's staging and
    flip moves the data_versions stamps — the merge must detect the
    conflict and recompute against the RESTORED manifest, never flip
    stale rows over it. Final state == serial (restore, then merge)."""
    lake = str(tmp_path / "lake")
    env = _env(spark, 120)
    M.merge_batch_into_lake(env.filter(F.col("event_seq") % 2 == 0), lake,
                            n_buckets=4, retain_versions=6)
    M.merge_batch_into_lake(
        env.filter(F.col("event_seq") % 2 == 1), lake, n_buckets=None,
        retain_versions=6,
    )

    def restorer(attempt: int):
        if attempt == 0:  # fire once, between staging and flip
            M.restore_lake(lake, 1, retain_versions=6)

    before = M.OCC_CONFLICTS
    batch = env.filter(F.col("event_seq") % 3 == 0).withColumn(
        "event_seq", F.col("event_seq") + 5000
    )
    M.merge_batch_optimistic(batch, lake, n_buckets=None, retain_versions=6, _race_hook=restorer)
    assert M.OCC_CONFLICTS > before  # a real detected conflict
    got = _snap(spark, lake)
    # serial oracle on a twin lake: restore-to-batch-0 then merge
    twin = str(tmp_path / "twin")
    M.merge_batch_into_lake(env.filter(F.col("event_seq") % 2 == 0), twin,
                            n_buckets=4, retain_versions=6)
    M.merge_batch_into_lake(batch, twin, n_buckets=None, retain_versions=6)
    assert got == _snap(spark, twin)


# ---------------------------------------------------------------------------
# CLI administration surface
# ---------------------------------------------------------------------------


def test_cli_admin_commands(spark, tmp_path, capsys):
    from lapidus_spark.__main__ import main

    lake = str(tmp_path / "lake")
    _build3(spark, lake)
    want_v2 = _snap(spark, lake, version=2)

    assert main(["--history", lake]) == 0
    hist_lines = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert [h["version"] for h in hist_lines] == [3, 2, 1]
    assert all("committed_at" in h for h in hist_lines)

    assert main(["--detail", lake]) == 0
    d = json.loads(capsys.readouterr().out)
    assert d["version"] == 3 and d["num_files"] > 0

    assert main(["--restore", lake, "--version", "2", "--retain-versions", "6"]) == 0
    assert "restored to version 2 as version 4" in capsys.readouterr().out
    assert _snap(spark, lake) == want_v2

    assert main(["--vacuum", lake, "--retain-versions", "2", "--dry-run"]) == 0
    out = capsys.readouterr().out
    assert out.startswith("would reclaim")
    assert main(["--vacuum", lake, "--retain-versions", "2"]) == 0
    assert "reclaimed" in capsys.readouterr().out
    with pytest.raises(ValueError, match="no retained version"):
        M.read_lake_snapshot(spark, lake, version=1).count()

    clone = str(tmp_path / "clone")
    assert main(["--clone", lake, "--into", clone]) == 0
    assert "zero-copy" in capsys.readouterr().out
    assert _snap(spark, clone) == want_v2

    assert main(["--delete", clone, "--where", "entity_id = 'k0001'"]) == 0
    assert "deleted 1 row(s)" in capsys.readouterr().out
    assert main(
        ["--compact", clone, "--target-files-per-bucket", "0",
         "--max-records-per-file", "64", "--cluster-by", "entity_id,last_ts"]
    ) == 0
    assert "compacted" in capsys.readouterr().out
    m = M._read_manifest(clone)
    assert m["compaction"]["cluster_by"] == ["entity_id", "last_ts"]


def test_cli_admin_validation(tmp_path):
    from lapidus_spark.__main__ import main

    with pytest.raises(SystemExit):
        main(["--restore", str(tmp_path)])  # missing --version
    with pytest.raises(SystemExit):
        main(["--delete", str(tmp_path)])  # missing --where
    with pytest.raises(SystemExit):
        main(["--clone", str(tmp_path)])  # missing --into
    with pytest.raises(SystemExit):
        main(["--vacuum", str(tmp_path), "--restore", str(tmp_path), "--version", "1"])
    with pytest.raises(SystemExit):
        main(["--vacuum", str(tmp_path), "-c", "cfg.json"])


def test_cli_restore_default_keeps_undone_version(spark, tmp_path, capsys):
    """Regression (round-9 review): bare --restore must use the
    library's retain_versions=2 default (undone version stays
    time-travelable), not a blanket CLI default of 1."""
    from lapidus_spark.__main__ import main

    lake = str(tmp_path / "lake")
    _build3(spark, lake)
    assert main(["--restore", lake, "--version", "2"]) == 0
    capsys.readouterr()
    # v3 (the undone live) remains readable under the default horizon
    assert len(_snap(spark, lake, version=3)) > 0


# ---------------------------------------------------------------------------
# Clone-aware retention (round 12): the pin, the two guards, the escape
# ---------------------------------------------------------------------------


def test_clone_pins_source_retention_and_escape(spark, tmp_path):
    """clone_lake registers a retention pin in the source; per-commit
    GC clamps its floor to the pinned version and an explicit vacuum
    REFUSES to cross it — previously both silently expired the cloned
    version and left the fork's unrewritten buckets unreadable. The
    coordinated escape (compact the clone local, age out its
    pre-compaction versions) self-heals the pin."""
    src = str(tmp_path / "src")
    _build3(spark, src, retain=6)  # versions 1..3
    dst = str(tmp_path / "dst")
    M.clone_lake(src, dst, version=2)
    want_v2 = _snap(spark, src, version=2)
    assert os.path.isdir(os.path.join(src, "_clones"))

    # per-commit GC: a retain_versions=1 merge would raise the floor
    # to live; the pin clamps it at the cloned version
    M.merge_batch_into_lake(
        _env(spark, 240).withColumn("event_seq", F.col("event_seq") + 9000),
        src,
        n_buckets=None,
        retain_versions=1,
    )
    ptr = json.load(open(os.path.join(src, M.MANIFEST_NAME)))
    assert ptr["version"] == 4 and ptr["floor"] <= 2
    assert _snap(spark, dst) == want_v2  # the fork still reads

    # explicit vacuum: refuses to cross the live pin
    with pytest.raises(ValueError, match="shallow clone"):
        M.vacuum_lake(src, retain_versions=1)
    assert _snap(spark, dst) == want_v2

    # escape: OPTIMIZE localizes every clone bucket; retain=1 ages out
    # the pre-compaction clone versions that referenced the source
    res = M.compact_lake(spark, dst, target_files_per_bucket=0, retain_versions=1)
    assert res["compacted_buckets"] > 0
    rep = M.vacuum_lake(src, retain_versions=1)
    assert rep["floor"] == 4  # pin self-healed, horizon shrinks
    # the localized fork is untouched by the source's reclaim
    assert _snap(spark, dst) == want_v2
    # and the stale pin is gone
    assert glob.glob(os.path.join(src, "_clones", "*.json")) == []


def test_detach_clone_refuses_then_releases(spark, tmp_path):
    src = str(tmp_path / "src")
    _build3(spark, src, retain=6)
    dst = str(tmp_path / "dst")
    M.clone_lake(src, dst)
    # still referencing: refuse without force
    with pytest.raises(ValueError, match="still references"):
        M.detach_clone(src, dst)
    # forced: pin severed, vacuum proceeds (operator accepted the hazard)
    res = M.detach_clone(src, dst, force=True)
    assert res == {"detached": True, "was_referencing": True}
    M.merge_batch_into_lake(
        _env(spark, 24).withColumn("event_seq", F.col("event_seq") + 9000),
        src,
        n_buckets=None,
        retain_versions=6,
    )
    rep = M.vacuum_lake(src, retain_versions=1)
    assert rep["floor"] == rep["version"]
    # idempotent: no pin left to detach
    assert M.detach_clone(src, dst) == {"detached": False, "was_referencing": False}


def test_deleted_clone_pin_self_heals(spark, tmp_path):
    """A pin whose fork is gone self-heals — but only once it is
    older than the in-flight grace window (ADVICE r12 #1): a
    brand-new pin with no destination pointer is indistinguishable
    from a clone_lake still between its pin write and its own
    manifest commit, and dropping it there reopens exactly the
    reclaim race the pin exists to close."""
    import shutil

    from lapidus_spark.lake import log as lake_log

    src = str(tmp_path / "src")
    _build3(spark, src, retain=6)
    dst = str(tmp_path / "dst")
    M.clone_lake(src, dst, version=2)
    shutil.rmtree(dst)  # the fork is abandoned outright
    # within the grace window the pin is fail-closed KEPT: vacuum
    # still refuses (the "deleted" fork could be an in-flight clone)
    with pytest.raises(ValueError, match="shallow clone"):
        M.vacuum_lake(src, retain_versions=1)
    (pin_path,) = glob.glob(os.path.join(src, "_clones", "*.json"))
    pin = json.load(open(pin_path))
    pin["created_at"] = pin["created_at"] - lake_log.CLONE_PIN_GRACE_S - 1
    with open(pin_path, "w") as fh:
        json.dump(pin, fh)
    rep = M.vacuum_lake(src, retain_versions=1)  # aged out: no refusal
    assert rep["floor"] == rep["version"]
    assert glob.glob(os.path.join(src, "_clones", "*.json")) == []


def test_transitive_clone_pins_every_ancestor(spark, tmp_path):
    """ADVICE r12 #3: a clone of a clone copies the parent's ABSOLUTE
    pointers into the grandparent, so it reads the grandparent
    DIRECTLY — a pin in the immediate parent alone would let the
    grandparent reclaim those files the moment the parent localizes
    and its own pin self-heals. clone_lake must register a pin in
    EVERY external root its copied pointers name."""
    src = str(tmp_path / "src")
    _build3(spark, src, retain=6)  # versions 1..3
    c1 = str(tmp_path / "c1")
    M.clone_lake(src, c1, version=2)
    c2 = str(tmp_path / "c2")
    M.clone_lake(c1, c2)
    want = _snap(spark, c2)
    # both forks pinned in src: c1's direct pin and c2's transitive one
    assert len(glob.glob(os.path.join(src, "_clones", "*.json"))) == 2
    # sever c1 from src: localize it and age out its source-referencing
    # version — its own pin in src is now stale and self-heals, but c2
    # STILL reads src's files through the pointers it copied from c1
    M.compact_lake(spark, c1, target_files_per_bucket=0, retain_versions=1)
    with pytest.raises(ValueError, match="shallow clone"):
        M.vacuum_lake(src, retain_versions=1)
    assert _snap(spark, c2) == want  # the grandchild fork still reads
    # escape: localize c2 too — every pin self-heals, reclaim proceeds
    M.compact_lake(spark, c2, target_files_per_bucket=0, retain_versions=1)
    rep = M.vacuum_lake(src, retain_versions=1)
    assert rep["floor"] == rep["version"]
    assert glob.glob(os.path.join(src, "_clones", "*.json")) == []
    assert _snap(spark, c2) == want


def test_cli_detach_clone(spark, tmp_path, capsys):
    from lapidus_spark.__main__ import main as cli

    src = str(tmp_path / "src")
    _build3(spark, src, retain=6)
    dst = str(tmp_path / "dst")
    assert cli(["--clone", src, "--into", dst]) == 0
    with pytest.raises(ValueError, match="still references"):
        cli(["--detach-clone", src, "--into", dst])
    assert cli(["--detach-clone", src, "--into", dst, "--force"]) == 0
    out = capsys.readouterr().out
    assert "forced" in out
    assert cli(["--detach-clone", src, "--into", dst]) == 0  # idempotent


def test_describe_detail_surfaces_clone_pins(spark, tmp_path):
    src = str(tmp_path / "src")
    _build3(spark, src, retain=6)
    assert "clone_pins" not in M.describe_detail(src)
    M.clone_lake(src, str(tmp_path / "d1"))
    M.clone_lake(src, str(tmp_path / "d2"))
    assert M.describe_detail(src)["clone_pins"] == 2
    M.detach_clone(src, str(tmp_path / "d1"), force=True)
    assert M.describe_detail(src)["clone_pins"] == 1
