"""Per-file Bloom filters at OPTIMIZE (VERDICT r11 #4 — Delta's
bloom-filter-index posture as commit metadata): equality-probe file
skipping on high-cardinality payload columns where min/max ranges
cannot prune.

Pinned here beyond the oracle gate (``lake_bloom_read``): the filters
record as a SIDECAR per commit dir (adaptively sized per file) whose
lifecycle follows the bucket pointers, the hash the read side replays
equals Spark's build-side hash bit-for-bit (strings AND integrals),
membership has NO false negatives over every live value, an absent
probe prunes to (near) zero files while a whole-bucket fallback stays
exact, the density guard refuses useless filters, the declaration is
a table property (adoption) reconciled by RENAME/DROP and surfaced by
DESCRIBE DETAIL, and mistyped declarations are refused."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

import lapidus_spark.streaming.materialize as M
from lapidus_spark.lake.stats import (
    _bloom_might_contain,
    _bloom_probe_bits,
    _load_bloom_index,
)

COLS = ["entity_id", "last_seq", "last_type", "item", "tag"]


def _env(spark, n=400, start=0):
    return spark.range(start, start + n).select(
        F.format_string("k%04d", F.col("id")).alias("pk"),
        F.col("id").alias("event_seq"),
        F.timestamp_seconds(F.col("id") * 60 + 1_700_000_000)
        .cast("timestamp_ntz")
        .alias("ts"),
        F.lit("update").alias("type"),
        F.format_string("payload-%04d", F.col("id")).alias("item"),
        # high-cardinality, uncorrelated with the entity_id clustering:
        # min/max ranges span ~the whole hex space per file
        F.md5(F.format_string("k%04d", F.col("id"))).alias("tag"),
        (F.xxhash64(F.col("id")) % 100_000).alias("num"),
    )


def _build(spark, lake, bloom=("tag", "num"), bits=None):
    M.merge_batch_into_lake(
        _env(spark), lake, n_buckets=4, retain_versions=4,
        extra_cols=("tag", "num"),
    )
    kw = {"bloom_bits": bits} if bits else {}
    M.compact_lake(
        spark, lake,
        target_files_per_bucket=0,
        retain_versions=4,
        max_records_per_file=25,  # ~4 files per bucket
        stats_columns=("tag",),
        bloom_columns=bloom,
        **kw,
    )
    return M._read_manifest(lake)


def test_probe_bits_match_spark_hash(spark):
    """The driver-side probe must replay the build-side Spark hash
    exactly: pmod(xxhash64(value, CAST(i AS BIGINT)), m) — strings
    hash their UTF-8 bytes, integrals their 8-byte value."""
    m_bits, k = 32768, 2
    vals = ["", "a", "k0042", "日本語", "x" * 40, 0, 1, -1, 99, 123456789012345]
    rows = []
    for v in vals:
        col = F.lit(v).cast("bigint") if isinstance(v, int) else F.lit(v)
        rows.append(
            spark.range(1)
            .select(
                *[
                    F.pmod(F.xxhash64(col, F.lit(i).cast("bigint")), F.lit(m_bits))
                    .cast("int")
                    .alias(f"b{i}")
                    for i in range(k)
                ]
            )
            .first()
        )
    for v, r in zip(vals, rows):
        assert _bloom_probe_bits(v, m_bits, k) == [r["b0"], r["b1"]], v


def test_filters_recorded_with_no_false_negatives(spark, tmp_path):
    lake = str(tmp_path / "lake")
    m = _build(spark, lake)
    assert m["bloom_columns"] == ["tag", "num"]
    stats = m["file_stats"]
    assert stats
    # the sidecar records one filter per (file, column), sized
    # adaptively (min clamp 8 KiB bits for these small files)
    blooms = {
        b: _load_bloom_index(lake, rel) for b, rel in m["buckets"].items()
    }
    for b, fs in stats.items():
        for f in fs:
            assert {"tag", "num"} <= set(blooms[b][f]), (b, f)
            assert blooms[b][f]["tag"]["m"] == 8192
    # every live row's tag/num is a member of ITS file's filter (the
    # file located via the disjoint entity_id ranges)
    rows = (
        M._read_live(spark, lake, m)
        .select("bucket", "entity_id", "tag", "num")
        .collect()
    )
    checked = 0
    for r in rows:
        hits = [
            (f, e)
            for f, e in stats[str(r["bucket"])].items()
            if e["entity_id"][0] <= r["entity_id"] <= e["entity_id"][1]
        ]
        assert len(hits) == 1
        fname, _e = hits[0]
        fb = blooms[str(r["bucket"])][fname]
        assert _bloom_might_contain(fb["tag"], r["tag"])
        assert _bloom_might_contain(fb["num"], int(r["num"]))
        checked += 1
    assert checked == 400


@pytest.mark.usefixtures("distributed_path")
def test_equality_probe_prunes_files_ranges_cannot(spark, tmp_path):
    lake = str(tmp_path / "lake")
    m = _build(spark, lake)
    total = sum(len(fs) for fs in m["file_stats"].values())
    assert total >= 8
    live = {r["pk"]: r for r in _env(spark).collect()}
    tag = live["k0123"]["tag"]
    df = M.lake_skip_read(spark, lake, {"tag": (tag, tag)})
    opened = len(df.inputFiles())
    assert 0 < opened * 4 <= total, (opened, total)
    got = df.select(*COLS).collect()
    assert len(got) == 1 and got[0]["entity_id"] == "k0123"
    # integral column probes prune too
    num = int(live["k0077"]["num"])
    df2 = M.lake_skip_read(spark, lake, {"num": (num, num)})
    assert 0 < len(df2.inputFiles()) * 4 <= total
    assert {r["entity_id"] for r in df2.collect()} >= {"k0077"}
    # an ABSENT value prunes to (near) zero files and returns nothing
    ghost = hashlib.md5(b"not-a-key").hexdigest()
    df3 = M.lake_skip_read(spark, lake, {"tag": (ghost, ghost)})
    assert len(df3.inputFiles()) * 4 <= total
    assert df3.count() == 0
    # a RANGE predicate on the same column ignores the filter (ranges
    # span ~everything for md5 values → opens everything, still exact)
    df4 = M.lake_skip_read(spark, lake, {"tag": (tag, ghost if ghost > tag else tag)})
    assert df4.count() >= 1


def test_fresh_merge_drops_filters_conservative_fallback(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _build(spark, lake)
    # a merge moves bucket pointers: its buckets lose maps AND filters
    M.merge_batch_into_lake(
        _env(spark, n=40, start=400), lake, n_buckets=4, retain_versions=4,
        extra_cols=("tag", "num"),
    )
    m = M._read_manifest(lake)
    assert not m.get("file_stats")  # all four buckets were touched
    tag = hashlib.md5(b"k0423").hexdigest()
    df = M.lake_skip_read(spark, lake, {"tag": (tag, tag)})
    assert [r["entity_id"] for r in df.collect()] == ["k0423"]


def test_density_guard_bounds_filter_load(spark, tmp_path):
    """With bloom_bits forced tiny, a full 25-row file's filter comes
    out majority-dense and records NOTHING (a filter that loaded
    cannot prune); only near-empty trailing files may keep a sparse
    one — every recorded filter is ≤ half-set, and reads stay exact
    through the fallback either way."""
    lake = str(tmp_path / "lake")
    m = _build(spark, lake, bits=64)
    recorded = dropped = 0
    for b, rel in m["buckets"].items():
        fs = m["file_stats"].get(b, {})
        idx = _load_bloom_index(lake, rel)
        for f in fs:
            cols = idx.get(f, {})
            if not cols:
                dropped += 1
            for e in cols.values():
                recorded += 1
                assert bin(int(e["hex"], 16)).count("1") * 2 <= e["m"]
    assert dropped > 0  # the guard really fired on the full files
    tag = hashlib.md5(b"k0123").hexdigest()
    got = M.lake_skip_read(spark, lake, {"tag": (tag, tag)}).collect()
    assert [r["entity_id"] for r in got] == ["k0123"]


def test_adoption_and_rename_drop_reconciliation(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _build(spark, lake, bloom=("tag",))
    # adoption: a later OPTIMIZE with bloom_columns=None keeps recording
    M.merge_batch_into_lake(
        _env(spark, n=40, start=400), lake, n_buckets=4, retain_versions=4,
        extra_cols=("tag", "num"),
    )
    M.compact_lake(
        spark, lake, target_files_per_bucket=0, retain_versions=4,
        max_records_per_file=25,
    )
    m = M._read_manifest(lake)
    assert m["bloom_columns"] == ["tag"]
    assert any(
        "tag" in cols
        for rel in m["buckets"].values()
        for cols in _load_bloom_index(lake, rel).values()
    )
    # rename follows the declaration
    M.rename_lake_column(lake, "tag", "fingerprint", retain_versions=4)
    assert M._read_manifest(lake)["bloom_columns"] == ["fingerprint"]
    # drop removes it
    M.drop_lake_column(lake, "fingerprint", retain_versions=4)
    assert M._read_manifest(lake)["bloom_columns"] == []


def test_declaration_validation(spark, tmp_path):
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(
        _env(spark).withColumn("score", (F.col("event_seq") / 7.0)),
        lake, n_buckets=4, retain_versions=4,
        extra_cols=("tag", "num", "score"),
    )
    with pytest.raises(ValueError, match="not a payload column"):
        M.compact_lake(
            spark, lake, target_files_per_bucket=0, retain_versions=4,
            bloom_columns=("nope",),
        )
    with pytest.raises(ValueError, match="string/integral"):
        M.compact_lake(
            spark, lake, target_files_per_bucket=0, retain_versions=4,
            bloom_columns=("score",),
        )
    with pytest.raises(ValueError, match="duplicate"):
        M.compact_lake(
            spark, lake, target_files_per_bucket=0, retain_versions=4,
            bloom_columns=("tag", "tag"),
        )


def test_describe_detail_surfaces_bloom_declaration(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _build(spark, lake, bloom=("tag",))
    d = M.describe_detail(lake)
    assert d["bloom_columns"] == ["tag"]
    assert d["stats_columns"] == ["tag"]


# ---------------------------------------------------------------------------
# Round 13: IN-probe pruning, producer-typed item, probe-kind guards
# ---------------------------------------------------------------------------


@pytest.mark.usefixtures("distributed_path")
def test_in_probe_prunes_when_envelope_cannot(spark, tmp_path):
    """VERDICT r12 #4: an ``IN (v1..vk)`` over scattered md5 values
    collapses to a [min, max] envelope spanning ~the whole hex space
    — useless to the zone maps. The per-value SET path must consult
    the Bloom filters instead: a file is skipped when EVERY listed
    value misses its filter (each miss is individually proof of
    absence), with zero false negatives and exact row semantics."""
    lake = str(tmp_path / "lake")
    m = _build(spark, lake)
    total = sum(len(fs) for fs in m["file_stats"].values())
    assert total >= 8
    live = {r["pk"]: r for r in _env(spark).collect()}
    tags = [live[k]["tag"] for k in ("k0007", "k0123", "k0321")]
    df = M.lake_skip_read(spark, lake, {}, in_values={"tag": tags})
    opened = len(df.inputFiles())
    assert 0 < opened * 2 <= total, (opened, total)
    assert {r["entity_id"] for r in df.collect()} == {"k0007", "k0123", "k0321"}
    # integral column sets prune the same way
    nums = [int(live[k]["num"]) for k in ("k0011", "k0222")]
    df2 = M.lake_skip_read(spark, lake, {}, in_values={"num": nums})
    assert 0 < len(df2.inputFiles()) * 2 <= total
    assert {r["entity_id"] for r in df2.collect()} >= {"k0011", "k0222"}
    # an all-absent set prunes to (near) zero files and returns nothing
    ghosts = [hashlib.md5(f"ghost{i}".encode()).hexdigest() for i in range(3)]
    df3 = M.lake_skip_read(spark, lake, {}, in_values={"tag": ghosts})
    assert len(df3.inputFiles()) * 4 <= total
    assert df3.count() == 0
    # conjunctive with ranges: the set restricts rows the range admits
    df4 = M.lake_skip_read(
        spark, lake, {"entity_id": ("k0000", "k0200")}, in_values={"tag": tags}
    )
    assert {r["entity_id"] for r in df4.collect()} == {"k0007", "k0123"}


def test_int_typed_item_hashes_as_bigint(spark, tmp_path):
    """ADVICE r12 #2: ``item``'s physical type is producer-defined.
    An int32 item hashed RAW on the build side would use Spark's
    4-byte hashInt while the probe replays the 8-byte long hash — a
    false-negative factory. The build must resolve the staged files'
    physical schema, cast integrals to bigint, and record the hashed
    kind so both sides agree."""
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(
        spark.range(400).select(
            F.format_string("k%04d", F.col("id")).alias("pk"),
            F.col("id").alias("event_seq"),
            F.timestamp_seconds(F.col("id") * 60 + 1_700_000_000)
            .cast("timestamp_ntz")
            .alias("ts"),
            F.lit("update").alias("type"),
            (F.pmod(F.xxhash64(F.col("id"), F.lit(7)), F.lit(1_000_000)))
            .cast("int")
            .alias("item"),
        ),
        lake, n_buckets=4, retain_versions=4,
    )
    m = M.compact_lake(
        spark, lake, target_files_per_bucket=0, retain_versions=4,
        max_records_per_file=25, bloom_columns=("item",),
    ) and M._read_manifest(lake)
    # every live row's int item is a member of SOME filter in its
    # bucket's sidecar, under the bigint probe path
    blooms = {
        b: _load_bloom_index(lake, rel) for b, rel in m["buckets"].items()
    }
    rows = M._read_live(spark, lake, m).select("bucket", "item").collect()
    assert rows
    for r in rows:
        fbs = blooms[str(r["bucket"])]
        assert any(
            "item" in fb and _bloom_might_contain(fb["item"], int(r["item"]))
            for fb in fbs.values()
        ), r
    # and the sidecar records the hashed kind
    some = next(iter(next(iter(blooms.values())).values()))
    assert some["item"]["t"] == "bigint"
    # end-to-end: probing a present value returns its rows
    v = int(rows[0]["item"])
    got = M.lake_skip_read(spark, lake, {"item": (v, v)}).collect()
    assert v in {int(r["item"]) for r in got} and len(got) >= 1


def test_float_typed_item_records_no_filter(spark, tmp_path):
    """A float-typed ``item`` passes the DECLARATION (its physical
    type is unknown at declare time) but the build records no filter
    for it — equality probes on floats are ill-posed; reads stay
    exact through the conservative fallback."""
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(
        spark.range(100).select(
            F.format_string("k%04d", F.col("id")).alias("pk"),
            F.col("id").alias("event_seq"),
            F.timestamp_seconds(F.col("id") * 60 + 1_700_000_000)
            .cast("timestamp_ntz")
            .alias("ts"),
            F.lit("update").alias("type"),
            (F.col("id") / 7.0).alias("item"),
        ),
        lake, n_buckets=2, retain_versions=4,
    )
    M.compact_lake(
        spark, lake, target_files_per_bucket=0, retain_versions=4,
        bloom_columns=("item",),
    )
    m = M._read_manifest(lake)
    for b, rel in m["buckets"].items():
        idx = _load_bloom_index(lake, rel)
        assert all("item" not in cols for cols in idx.values()), b
    assert M._read_live(spark, lake, m).count() == 100


def test_probe_kind_guards_are_conservative(spark):
    """ADVICE r12 #5 + the recorded-kind guard: an out-of-int64 probe
    value, or a probe whose Python type cannot replay the recorded
    build-side hash, must fall back to 'cannot rule out' — never
    raise, never false-negative."""
    # out-of-range ints are unprobeable (the build can never have
    # hashed them), not a driver-side OverflowError
    assert _bloom_probe_bits(2**63, 8192, 2) is None
    assert _bloom_probe_bits(-(2**63) - 1, 8192, 2) is None
    assert _bloom_probe_bits(2**63 - 1, 8192, 2) is not None
    empty = {"m": 64, "k": 2, "hex": "00" * 8}
    assert _bloom_might_contain({**empty, "t": "bigint"}, 2**63)
    # kind mismatch: conservative True even against an all-zero filter
    assert _bloom_might_contain({**empty, "t": "bigint"}, "a-string")
    assert _bloom_might_contain({**empty, "t": "bigint"}, True)
    assert _bloom_might_contain({**empty, "t": "string"}, 42)
    # matched kinds still prove absence against the all-zero filter
    assert not _bloom_might_contain({**empty, "t": "string"}, "a-string")
    assert not _bloom_might_contain({**empty, "t": "bigint"}, 42)


def test_load_bloom_index_legacy_rel_guard(tmp_path):
    """ADVICE r12 #4: a legacy root-dir pointer is a bare 'bucket=B'
    — it CONTAINS 'bucket=' so a substring guard passed it through to
    a ValueError on the path split. The guard must key on the
    separator and return {} for any non-commit-dir layout."""
    assert _load_bloom_index(str(tmp_path), "bucket=3") == {}
    assert _load_bloom_index(str(tmp_path), "commits/7/bucket=3") == {}
    assert _load_bloom_index(str(tmp_path), "no-bucket-here/x") == {}


def test_skip_read_overflow_bound_falls_back(spark, tmp_path):
    """An equality bound outside int64 on a bloom'd bigint column
    used to raise OverflowError on the driver; it must fall back to
    the range path (correctly returning nothing for a value no file
    can contain)."""
    lake = str(tmp_path / "lake")
    _build(spark, lake)
    df = M.lake_skip_read(spark, lake, {"num": (2**63, 2**63)})
    assert df.count() == 0
