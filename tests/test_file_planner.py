"""The one file-pruning planner (``stats._plan_files``) that every
pruned lake read — point, skip, time-window and ``format("lake")`` —
consults. Pure Python over hand-built manifests: no Spark session.

Pinned here: the retired pre-round-9 manifest shapes (bare-list
``entity_id`` entries, root ``bucket=`` pointers) never reach the
planner — opening such a lake raises — and a bucket without
``file_stats`` reads whole; time bounds in every accepted form (tz-
aware, ISO) and the ``ValueError`` for anything else, the conservative
keeps (unmapped column, incomparable bound), Bloom all-miss versus a
single hit, resident-key routing on power-of-two and odd layouts, the
empty key list, and a bucket where only some files carry ``last_ts``
stats."""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta, timezone

import pytest

from lapidus_spark.lake import log
from lapidus_spark.lake.stats import (
    BLOOM_SIDECAR,
    _bloom_probe_bits,
    _naive_utc,
    _plan_files,
    lake_time_read,
)
from lapidus_spark.sources.lake_batch import _bucket_of

T0 = datetime(2024, 3, 1, 12, 0, 0)


def _iso(dt: datetime) -> str:
    return dt.isoformat(timespec="microseconds")


def _manifest(buckets: dict, file_stats: dict | None = None, n_buckets=None) -> dict:
    m = {
        "version": 3,
        "n_buckets": n_buckets or max(1, len(buckets)),
        "buckets": buckets,
    }
    if file_stats is not None:
        m["file_stats"] = file_stats
    return m


def _kept(plan: dict, lake: str, bucket: str) -> list[str] | None:
    files = plan[bucket]
    return None if files is None else [os.path.relpath(f, lake) for f in files]


def test_legacy_shapes_bare_list_entries_and_root_pointers(tmp_path):
    """Bare-list ``entity_id`` stats and root ``bucket=`` pointers only
    ever existed under the format-1 manifest and the pre-manifest
    layout. Both are refused when the lake is opened, so the planner
    only ever sees dict entries and commit-dir pointers."""
    format1 = tmp_path / "format1"
    format1.mkdir()
    m = _manifest(
        {"0": "commits/00003/pb=0", "1": "bucket=1"},
        {"0": {"a.parquet": ["k00", "k09"]}, "1": {"c.parquet": ["k00", "k00"]}},
    )
    (format1 / log.MANIFEST_NAME).write_text(json.dumps({**m, "format": 1}))
    with pytest.raises(ValueError, match="format-1 monolithic manifest"):
        log._manifest_at(str(format1), None)
    pre_manifest = tmp_path / "pre_manifest"
    (pre_manifest / "bucket=1").mkdir(parents=True)
    with pytest.raises(ValueError, match="pre-manifest layout"):
        log._manifest_at(str(pre_manifest), None)
    assert log._read_pointer(str(tmp_path / "absent")) is None
    # no file_stats at all: every bucket whole
    lake = "/lake"
    buckets = {"0": "commits/00003/pb=0", "1": "commits/00004/pb=1"}
    assert _plan_files(lake, _manifest(buckets), {"item": ("a", "b")}, {}) == {
        "0": None,
        "1": None,
    }


def test_time_bounds_tz_aware_and_iso():
    lake = "/lake"
    stats = {
        "early.parquet": {"entity_id": ["a", "z"], "last_ts": [_iso(T0), _iso(T0 + timedelta(hours=1))]},
        "late.parquet": {"entity_id": ["a", "z"], "last_ts": [_iso(T0 + timedelta(hours=5)), _iso(T0 + timedelta(hours=6))]},
    }
    m = _manifest({"0": "commits/00003/pb=0"}, {"0": stats})
    # 14:30+02:00 is 12:30 UTC: inside "early" only
    aware = datetime(2024, 3, 1, 14, 30, tzinfo=timezone(timedelta(hours=2)))
    for lo, hi in [
        (aware, aware),
        (_iso(T0 + timedelta(minutes=30)), _iso(T0 + timedelta(minutes=40))),
        ("2024-03-01T14:30:00+02:00", None),
    ]:
        plan = _plan_files(lake, m, {"last_ts": (lo, hi)}, {})
        want = ["commits/00003/pb=0/early.parquet"]
        if hi is None:  # open upper end reaches "late" too
            want.append("commits/00003/pb=0/late.parquet")
        assert _kept(plan, lake, "0") == want, (lo, hi)
    # a last_ts value set prunes like ranges do (IN on the time axis)
    plan = _plan_files(lake, m, {}, {"last_ts": [aware.astimezone(timezone.utc)]})
    assert _kept(plan, lake, "0") == ["commits/00003/pb=0/early.parquet"]


def test_naive_utc_rejects_what_it_cannot_normalize():
    assert _naive_utc("2024-03-01T14:30:00+02:00") == datetime(2024, 3, 1, 12, 30)
    assert _naive_utc(T0) == T0
    for bad in (None, 1_700_000_000, "not a time"):
        with pytest.raises(ValueError, match=repr(bad).replace("(", r"\(")):
            _naive_utc(bad, "ts_from")
    # lake_time_read validates its bounds before it opens the lake
    # (the session is never touched, so None stands in for it)
    with pytest.raises(ValueError, match="ts_from None"):
        lake_time_read(None, "/no/such/lake", None, T0)
    with pytest.raises(ValueError, match="ts_to 5"):
        lake_time_read(None, "/no/such/lake", T0, 5)


def test_bounds_and_values_are_inclusive_at_the_file_edges():
    lake = "/lake"
    stats = {
        "a.parquet": {"entity_id": ["a", "m"], "band": ["01", "03"]},
        "b.parquet": {"entity_id": ["n", "z"], "band": ["04", "06"]},
    }
    m = _manifest({"0": "commits/00003/pb=0"}, {"0": stats})
    rel = "commits/00003/pb=0/"
    # a range touching a file's min or max keeps that file
    assert _kept(_plan_files(lake, m, {"band": ("00", "01")}, {}), lake, "0") == [rel + "a.parquet"]
    assert _kept(_plan_files(lake, m, {"band": ("06", None)}, {}), lake, "0") == [rel + "b.parquet"]
    # so does a listed value equal to either edge
    assert _kept(_plan_files(lake, m, {}, {"band": ["04"]}), lake, "0") == [rel + "b.parquet"]
    assert _kept(_plan_files(lake, m, {}, {"band": ["03", "07"]}), lake, "0") == [rel + "a.parquet"]


def test_unmapped_column_and_incomparable_bound_keep_the_file():
    lake = "/lake"
    stats = {
        "a.parquet": {"entity_id": ["a", "m"], "band": ["01", "03"]},
        "b.parquet": {"entity_id": ["n", "z"]},  # band unmapped here
    }
    m = _manifest({"0": "commits/00003/pb=0"}, {"0": stats})
    plan = _plan_files(lake, m, {"band": ("05", "07")}, {})
    assert _kept(plan, lake, "0") == ["commits/00003/pb=0/b.parquet"]
    # an int bound against string stats cannot compare: both kept,
    # never an error (the SQL relation's pushed values can be anything)
    plan = _plan_files(lake, m, {"band": (5, 7)}, {"band": [5]})
    assert len(plan["0"]) == 2
    # an unusable last_ts bound is an open end, not an error
    plan = _plan_files(lake, m, {"last_ts": (17, None)}, {"last_ts": ["x"]})
    assert len(plan["0"]) == 2


def _write_sidecar(lake: str, commit_rel: str, entries: dict, m_bits=8192, k=2):
    """``entries``: ``"pb=B/file" → {col: [values]}`` → a sidecar
    built with the read side's own probe bits."""
    index = {}
    for key, cols in entries.items():
        for col, values in cols.items():
            bitmap = bytearray(m_bits >> 3)
            for v in values:
                for b in _bloom_probe_bits(v, m_bits, k):
                    bitmap[b >> 3] |= 1 << (b & 7)
            index.setdefault(key, {})[col] = {
                "m": m_bits, "k": k, "hex": bytes(bitmap).hex(), "t": "string",
            }
    os.makedirs(os.path.join(lake, commit_rel), exist_ok=True)
    with open(os.path.join(lake, commit_rel, BLOOM_SIDECAR), "w") as fh:
        json.dump(index, fh)


def test_bloom_all_miss_drops_single_hit_keeps(tmp_path):
    lake = str(tmp_path)
    stats = {
        "a.parquet": {"entity_id": ["a", "z"]},  # item unmapped: only
        "b.parquet": {"entity_id": ["a", "z"]},  # the filter can prune
    }
    m = _manifest({"0": "commits/00003/pb=0"}, {"0": stats})
    _write_sidecar(
        lake,
        "commits/00003",
        {
            "pb=0/a.parquet": {"item": ["x1", "x2"]},
            "pb=0/b.parquet": {"item": ["y1"]},
        },
    )
    rel = "commits/00003/pb=0/"
    plan = _plan_files(lake, m, {}, {"item": ["nope1", "nope2"]})
    assert _kept(plan, lake, "0") == []
    plan = _plan_files(lake, m, {}, {"item": ["nope1", "x2"]})
    assert _kept(plan, lake, "0") == [rel + "a.parquet"]
    # an equality range is a one-value set: same Bloom rule
    plan = _plan_files(lake, m, {"item": ("y1", "y1")}, {})
    assert _kept(plan, lake, "0") == [rel + "b.parquet"]


def test_sidecar_read_only_for_columns_that_can_carry_a_filter(monkeypatch):
    from lapidus_spark.lake import stats

    opened = []
    monkeypatch.setattr(
        stats, "_load_bloom_index", lambda lake, rel: opened.append(rel) or {}
    )
    m = _manifest(
        {"0": "commits/00003/pb=0"},
        {"0": {"a.parquet": {"entity_id": ["a", "z"]}}},
        n_buckets=1,
    )
    # point keys and time values never carry a filter: no sidecar read
    _plan_files("/lake", m, {"entity_id": ("k", "k")}, {"last_ts": [T0]})
    _plan_files("/lake", m, {"item": ("a", "b")}, {})  # a range, not a probe
    assert opened == []
    _plan_files("/lake", m, {}, {"item": ["x"]})
    assert opened == ["commits/00003/pb=0"]


def _key_in(prefix: str, bucket: int, n: int) -> str:
    for i in range(10_000):
        k = f"{prefix}{i:04d}"
        if _bucket_of(k, n) == bucket:
            return k
    raise AssertionError("no key found")


@pytest.mark.parametrize("n", [7, 8])
def test_resident_key_pruning_across_buckets(n):
    lake = "/lake"
    buckets = {str(b): f"commits/00003/pb={b}" for b in range(n)}
    stats = {
        str(b): {
            "lo.parquet": {"entity_id": ["a", "m"]},
            "hi.parquet": {"entity_id": ["n", "zz"]},
        }
        for b in range(n)
    }
    m = _manifest(buckets, stats, n_buckets=n)
    low, high = _key_in("apple", 1, n), _key_in("zebra", 2, n)
    plan = _plan_files(lake, m, {}, {"entity_id": [low, high]})
    # routed: only the two keys' buckets, each pruned against its OWN
    # key — bucket 1 never opens hi.parquet for bucket 2's "zebra"
    assert plan == {
        "1": [os.path.join(lake, buckets["1"], "lo.parquet")],
        "2": [os.path.join(lake, buckets["2"], "hi.parquet")],
    }
    # an equality range routes the same way
    plan = _plan_files(lake, m, {"entity_id": (high, high)}, {})
    assert plan == {"2": [os.path.join(lake, buckets["2"], "hi.parquet")]}
    # a key hashing to a never-written bucket contributes nothing
    del m["buckets"]["2"]
    assert list(_plan_files(lake, m, {}, {"entity_id": [high]})) == []


def test_empty_key_list_plans_nothing():
    m = _manifest({"0": "commits/00003/pb=0"}, {}, n_buckets=1)
    assert _plan_files("/lake", m, {}, {"entity_id": []}) == {}


def test_time_window_prunes_per_file_when_only_some_files_carry_last_ts():
    """The bucket mixes a file without ``last_ts`` stats with two that
    carry them. The read before the shared planner (``lake_time_read``
    with its own loop) read this whole bucket because one file lacked
    the stats; now each file stands on its own: the unmapped file and
    the overlapping one stay, the disjoint one goes — a subset of the
    files that read opened."""
    lake = "/lake"
    rel = "commits/00003/pb=0"
    stats = {
        "no_ts.parquet": {"entity_id": ["a", "z"]},
        "in.parquet": {"entity_id": ["a", "z"], "last_ts": [_iso(T0), _iso(T0 + timedelta(minutes=9))]},
        "out.parquet": {"entity_id": ["a", "z"], "last_ts": [_iso(T0 + timedelta(hours=3)), _iso(T0 + timedelta(hours=4))]},
    }
    m = _manifest({"0": rel}, {"0": stats})
    lo, hi = T0 + timedelta(minutes=5), T0 + timedelta(minutes=20)
    kept = set(_kept(_plan_files(lake, m, {"last_ts": (lo, hi)}, {}), lake, "0"))
    whole_bucket = {f"{rel}/{f}" for f in stats}
    assert kept < whole_bucket
    assert {f: f"{rel}/{f}" in kept for f in stats} == {
        "no_ts.parquet": True,
        "in.parquet": True,
        "out.parquet": False,
    }
