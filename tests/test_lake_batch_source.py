"""Batch ``spark.read.format("lake")`` DataSource (VERDICT r11 #1) —
the DSv2 twin of the streaming ``lake_cdf``/``catalog_cdf`` sources:
snapshots, time travel and change feeds as SQL-addressable relations
that need no ``import lapidus_spark``.

Pinned here: exact parity with the helper path (``read_lake_snapshot``
across live/version/timestampAsOf reads, deletion vectors, schema
evolution with accretion + rename aliases + type widening, an INT96
``timestamp`` lake's types under a non-UTC session),
``changes=true`` equal to draining the streaming source AND to the
batch ``lake_changes`` / ``lake_changes_rows`` per step over every
step kind (merge, compaction, rewrite and DV DELETE, restore across
the DV commit), the Spark-parity pure-Python
xxhash64 the planner prunes buckets with, bucket/zone-map pruning
decisions (partition counts vs the helper's pruned reads), the SQL
(CREATE TEMPORARY VIEW ... USING lake) path, and the option-validation
failure postures."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import lapidus_spark.streaming.materialize as M
from lapidus_spark.sources.lake_batch import (
    LakeBatchReader,
    _bucket_of,
    _xxh64,
    register_lake_batch,
)

SNAP_COLS = ["entity_id", "last_seq", "last_ts", "last_type", "item", "bucket"]


def _env(spark, n=300, start=0, item=None):
    return spark.range(start, start + n).select(
        F.format_string("k%04d", F.col("id") % 120).alias("pk"),
        F.col("id").alias("event_seq"),
        F.timestamp_seconds(F.col("id") * 60 + 1_700_000_000)
        .cast("timestamp_ntz")
        .alias("ts"),
        F.when(F.col("id") % 17 == 0, "delete").otherwise("update").alias("type"),
        (item if item is not None else F.format_string("payload-%04d", F.col("id"))).alias(
            "item"
        ),
        F.substring(F.format_string("k%04d", F.col("id") % 120), 3, 2).alias("band"),
    )


def _build(spark, lake):
    """Two merges + a clustered stats-recording OPTIMIZE: multiple
    retained versions, per-file zone maps on entity_id/band."""
    M.merge_batch_into_lake(
        _env(spark), lake, n_buckets=4, retain_versions=6, extra_cols=("band",)
    )
    M.merge_batch_into_lake(
        _env(spark, item=F.lit("v2")).withColumn(
            "event_seq", F.col("event_seq") + 1000
        ),
        lake,
        n_buckets=4,
        retain_versions=6,
        extra_cols=("band",),
    )
    M.compact_lake(
        spark,
        lake,
        target_files_per_bucket=0,
        retain_versions=6,
        max_records_per_file=20,
        stats_columns=("band",),
    )


def _rows(df, cols=SNAP_COLS):
    return sorted(map(tuple, df.select(*cols).collect()))


#: the 8 keys each DELETE step redacts (all visible when deleted)
REWRITE_KEYS = [f"k{i:04d}" for i in range(40, 48)]
DV_KEYS = [f"k{i:04d}" for i in range(20, 28)]


def _in(keys):
    return "entity_id IN ({})".format(", ".join(f"'{k}'" for k in keys))


@pytest.fixture(scope="module")
def history_lake(spark, tmp_path_factory):
    """One version per change-step kind: v1 and v2 merges, v3 a
    clustered OPTIMIZE (dataChange-free), v4 a rewrite DELETE of 8
    keys, v5 a deletion-vector DELETE of 8 others (pointers kept),
    v6 a RESTORE to v4 across the DV commit (the 8 come back)."""
    lake = str(tmp_path_factory.mktemp("history") / "lake")
    _build(spark, lake)
    M.delete_from_lake(spark, lake, _in(REWRITE_KEYS), retain_versions=8, mode="rewrite")
    M.delete_from_lake(spark, lake, _in(DV_KEYS), retain_versions=8, mode="dv")
    M.restore_lake(lake, 4, retain_versions=8)
    assert M._read_manifest(lake)["version"] == 6
    return lake


def _changes(spark, lake, start, end=None, **opts):
    r = (
        spark.read.format("lake")
        .option("path", lake)
        .option("changes", "true")
        .option("startingVersion", str(start))
    )
    if end is not None:
        r = r.option("endingVersion", str(end))
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def _drained(spark, lake, name, ckpt, **opts):
    from lapidus_spark.streaming.lake_source import register_lake_cdf

    register_lake_cdf(spark)
    reader = spark.readStream.format("lake_cdf").option("path", lake)
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
    return spark.table(name)


HELPER_COLS = ["entity_id", "change_type", "last_seq", "last_ts", "last_type", "item"]
FEED_COLS = HELPER_COLS + ["ver"]


def _assert_steps_match(spark, lake, helper, expected_counts, **opts):
    """Every version step of ``lake``: the relation's step equals the
    Spark helper's diff of the same two versions and has the expected
    row count (None: not pinned)."""
    def ntz(df):  # the helpers return last_ts as timestamp_ntz: the
        # same wall clock as the feeds' timestamp under the UTC session
        df = df.withColumn("last_ts", F.col("last_ts").cast("timestamp_ntz"))
        return _rows(df, HELPER_COLS)

    for v, want in expected_counts.items():
        got = ntz(_changes(spark, lake, v - 1, v, **opts))
        assert got == ntz(helper(spark, lake, from_version=v - 1, to_version=v)), v
        assert want is None or len(got) == want, (v, len(got))


def test_xxhash64_matches_spark(spark):
    """The planner's pure-Python xxhash64 (bucket pruning, point-read
    routing) must equal Spark's ``F.xxhash64`` bit-for-bit — ASCII,
    empty, multi-byte UTF-8, and >32-byte inputs, plus the pmod bucket
    assignment under every pinned layout width (1, odd, powers of
    two)."""
    widths = (1, 7, 8, 16, 64)
    keys = (
        [f"k{i:04d}" for i in range(200)]
        + ["", "a", "ab", "abc", "abcd", "hello world", "日本語テスト", "ünïcødé"]
        + ["x" * n for n in (7, 8, 9, 31, 32, 33, 100)]
    )
    rows = (
        spark.createDataFrame([(k,) for k in keys], "pk string")
        .select(
            "pk",
            F.xxhash64("pk").alias("h"),
            *[
                F.pmod(F.xxhash64("pk"), F.lit(n)).cast("int").alias(f"b{n}")
                for n in widths
            ],
        )
        .collect()
    )
    for r in rows:
        assert _xxh64(r["pk"].encode("utf-8")) == r["h"], r["pk"]
        for n in widths:
            assert _bucket_of(r["pk"], n) == r[f"b{n}"], (r["pk"], n)


def test_snapshot_matches_helper(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _build(spark, lake)
    register_lake_batch(spark)
    got = spark.read.format("lake").option("path", lake).load()
    exp = M.read_lake_snapshot(spark, lake)
    assert got.schema == exp.schema
    assert _rows(got, SNAP_COLS + ["band"]) == _rows(exp, SNAP_COLS + ["band"])


def test_time_travel_version_and_timestamp(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _build(spark, lake)
    register_lake_batch(spark)
    for v in (1, 2):
        got = (
            spark.read.format("lake")
            .option("path", lake)
            .option("version", str(v))
            .load()
        )
        exp = M.read_lake_snapshot(spark, lake, version=v)
        assert _rows(got) == _rows(exp), v
    # TIMESTAMP AS OF: the v1 commit instant resolves to version 1
    from lapidus_spark.lake.log import _manifest_at

    t1 = _manifest_at(lake, 1)["committed_at"]
    from datetime import datetime, timezone

    iso = datetime.fromtimestamp(t1, tz=timezone.utc).isoformat()
    got = (
        spark.read.format("lake")
        .option("path", lake)
        .option("timestampAsOf", iso)
        .load()
    )
    assert _rows(got) == _rows(M.read_lake_snapshot(spark, lake, version=1))


def test_deletion_vectors_and_tombstones_apply(spark, history_lake):
    register_lake_batch(spark)
    for v in (4, 5, 6):  # rewrite-deleted, DV-masked, DV restored away
        got = spark.read.format("lake").option("path", history_lake).option(
            "version", str(v)
        ).load()
        exp = M.read_lake_snapshot(spark, history_lake, version=v)
        assert _rows(got) == _rows(exp), v
        live = {r["entity_id"] for r in got.collect()}
        assert not live & set(REWRITE_KEYS), v
        assert (live & set(DV_KEYS) == set()) == (v == 5), v


def test_int96_timestamp_lake_reads_like_the_snapshot(spark, tmp_path):
    """A library-session lake stores ``last_ts`` as Spark's default
    INT96 ``timestamp``, which pyarrow reads zone-less. The relation
    must still declare ``timestamp`` like ``read_lake_snapshot``, so a
    zoned ``last_ts`` window selects the same rows under a non-UTC
    session, and a DV delete reads the same through both."""
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(
        _env(spark).withColumn("ts", F.col("ts").cast("timestamp")),
        lake, n_buckets=4, retain_versions=4, extra_cols=("band",),
    )
    register_lake_batch(spark)

    def both():
        return (
            spark.read.format("lake").option("path", lake).load(),
            M.read_lake_snapshot(spark, lake),
        )

    got, exp = both()
    assert got.schema == exp.schema  # last_ts timestamp on both
    window = (
        "last_ts >= TIMESTAMP'2023-11-15 02:00:00Z' "
        "AND last_ts < TIMESTAMP'2023-11-15 03:00:00Z'"
    )
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        n_got, n_exp = got.filter(window).count(), exp.filter(window).count()
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert n_got == n_exp > 0
    M.delete_from_lake(spark, lake, _in(DV_KEYS), retain_versions=4, mode="dv")
    got, exp = both()
    assert _rows(got) == _rows(exp)
    assert not {r["entity_id"] for r in got.collect()} & set(DV_KEYS)


def test_schema_evolution_rename_and_widening(spark, tmp_path):
    """Files across three epochs — pre-accretion, pre-rename (data
    under the OLD name), post-rename + int→bigint widening — must read
    under the live epoch exactly like the helper: null-fill, alias
    coalesce, widened casts."""
    lake = str(tmp_path / "lake")
    env = _env(spark, n=40)
    M.merge_batch_into_lake(
        env.select("pk", "event_seq", "ts", "type", "item"),
        lake, n_buckets=4, retain_versions=8,
    )
    M.merge_batch_into_lake(
        _env(spark, n=40, start=40).withColumn(
            "shard", (F.col("event_seq") % 7).cast("int")
        ).select("pk", "event_seq", "ts", "type", "item", "shard"),
        lake, n_buckets=4, retain_versions=8, extra_cols=("shard",),
    )
    M.rename_lake_column(lake, "shard", "zone", retain_versions=8)
    M.merge_batch_into_lake(
        _env(spark, n=40, start=80).withColumn(
            "zone", (F.col("event_seq") % 7).cast("bigint")
        ).select("pk", "event_seq", "ts", "type", "item", "zone"),
        lake, n_buckets=4, retain_versions=8, extra_cols=("zone",),
    )
    register_lake_batch(spark)
    got = spark.read.format("lake").option("path", lake).load()
    exp = M.read_lake_snapshot(spark, lake)
    assert got.schema == exp.schema  # zone bigint, post-rename epoch
    cols = SNAP_COLS + ["zone"]
    assert _rows(got, cols) == _rows(exp, cols)


def test_changes_mode_matches_stream_and_batch_helper(spark, history_lake, tmp_path):
    """The state feed over every step kind equals ``lake_changes`` of
    the same two versions — the compaction step is empty, each DELETE
    step (rewrite: pointers move; DV: only the vector does) emits its
    8 deletes, the restore re-inserts the DV-deleted 8 — and the whole
    range equals draining the ``lake_cdf`` stream."""
    register_lake_batch(spark)
    _assert_steps_match(
        spark, history_lake, M.lake_changes, {4: 8, 5: 8, 6: 8, 1: 120, 2: 120, 3: 0}
    )
    dv_step = _changes(spark, history_lake, 4, 5).collect()
    assert {r["change_type"] for r in dv_step} == {"delete"}
    stream = _drained(spark, history_lake, "lb_changes_stream", str(tmp_path / "ck"))
    assert _rows(_changes(spark, history_lake, 0), FEED_COLS) == _rows(stream, FEED_COLS)


@pytest.mark.usefixtures("scan_path")
def test_point_probe_prunes_buckets_and_zone_maps_prune_files(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _build(spark, lake)
    register_lake_batch(spark)
    total = len(LakeBatchReader({"path": lake}).partitions())
    assert total > 4  # the valve split buckets into multiple files

    # bucket pruning: an entity_id equality plans only its bucket's
    # files — the same path-level decision lake_point_read makes
    r = LakeBatchReader({"path": lake})
    r.ranges, r.eq_keys = {"entity_id": ("k0005", "k0005")}, {"k0005"}
    pruned = r.partitions()
    helper_files = M.lake_point_read(spark, lake, ["k0005"]).inputFiles()
    assert 0 < len(pruned) < total
    # parity: the planned file set equals the helper's pruned read
    assert sorted(f for p in pruned for f in p.files) == sorted(
        f.replace("file://", "").replace("file:", "") for f in helper_files
    )

    # zone-map pruning on a declared stats column
    r2 = LakeBatchReader({"path": lake})
    r2.ranges = {"band": ("03", "04")}
    assert 0 < len(r2.partitions()) < total

    # end-to-end: the filtered read stays value-exact
    got = (
        spark.read.format("lake")
        .option("path", lake)
        .load()
        .filter(F.col("entity_id") == "k0005")
    )
    exp = M.read_lake_snapshot(spark, lake).filter(F.col("entity_id") == "k0005")
    assert _rows(got) == _rows(exp)


def test_probe_into_an_unwritten_bucket_reads_zero_rows(spark, tmp_path):
    """A pushed key whose bucket was never written plans zero
    partitions, and Spark then hands the reader ONE ``None``
    partition: the read must return no rows, not fail."""
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(_env(spark, 1), lake, n_buckets=8)
    other = next(
        k for k in (f"z{i}" for i in range(100))
        if _bucket_of(k, 8) != _bucket_of("k0000", 8)
    )
    register_lake_batch(spark)
    got = spark.read.format("lake").option("path", lake).load()
    assert got.filter(F.col("entity_id") == other).count() == 0


def test_sql_view_select(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _build(spark, lake)
    register_lake_batch(spark)
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW lb_sql_v USING lake OPTIONS (path '{lake}')"
    )
    got = spark.sql(
        "SELECT entity_id, last_seq, item FROM lb_sql_v "
        "WHERE entity_id BETWEEN 'k0010' AND 'k0019' ORDER BY entity_id"
    )
    exp = (
        M.read_lake_snapshot(spark, lake)
        .filter(F.col("entity_id").between("k0010", "k0019"))
        .select("entity_id", "last_seq", "item")
        .orderBy("entity_id")
    )
    assert list(map(tuple, got.collect())) == list(map(tuple, exp.collect()))


def test_option_validation_failure_postures(spark, tmp_path):
    register_lake_batch(spark)
    with pytest.raises(Exception, match="path"):
        spark.read.format("lake").load().collect()
    with pytest.raises(Exception, match="no manifest"):
        spark.read.format("lake").option("path", str(tmp_path / "nope")).load()
    lake = str(tmp_path / "lake")
    _build(spark, lake)
    with pytest.raises(Exception, match="not both"):
        (
            spark.read.format("lake")
            .option("path", lake)
            .option("version", "1")
            .option("timestampAsOf", "2024-01-01T00:00:00")
            .load()
            .collect()
        )
    with pytest.raises(Exception, match="endingVersion"):
        (
            spark.read.format("lake")
            .option("path", lake)
            .option("changes", "true")
            .option("startingVersion", "3")
            .option("endingVersion", "1")
            .load()
            .collect()
        )
    # an unretained version fails fast with the retention error
    with pytest.raises(Exception, match="retain"):
        (
            spark.read.format("lake")
            .option("path", lake)
            .option("version", "99")
            .load()
            .collect()
        )


def test_bloom_sidecar_prunes_sql_equality_probes(spark, tmp_path):
    """The batch format consults the commit dir's Bloom sidecars for
    pushed equality probes — the SQL path prunes the files
    lake_skip_read prunes (round 12: the lake_bloom_read story
    carried to spark.read.format('lake'))."""
    import hashlib

    lake = str(tmp_path / "lake")
    env = _env(spark, n=400).withColumn("tag", F.md5(F.col("pk")))
    M.merge_batch_into_lake(
        env, lake, n_buckets=4, retain_versions=4, extra_cols=("band", "tag")
    )
    M.compact_lake(
        spark, lake,
        target_files_per_bucket=0,
        retain_versions=4,
        max_records_per_file=10,
        stats_columns=("tag",),
        bloom_columns=("tag",),
    )
    register_lake_batch(spark)
    total = len(LakeBatchReader({"path": lake}).partitions())
    assert total >= 10
    tag = hashlib.md5(b"k0010").hexdigest()
    r = LakeBatchReader({"path": lake})
    r.ranges = {"tag": (tag, tag)}
    pruned = r.partitions()
    assert 0 < len(pruned) * 4 <= total
    got = (
        spark.read.format("lake")
        .option("path", lake)
        .load()
        .filter(F.col("tag") == tag)
        .collect()
    )
    assert {x["entity_id"] for x in got} == {"k0010"}


def test_bloom_sidecar_prunes_sql_in_probes(spark, tmp_path):
    """VERDICT r12 #4 carried to the SQL path: a pushed ``In`` over
    scattered md5 values defeats the [min, max] envelope (it spans
    ~every file), so the reader keeps the VALUE SET and skips a file
    when every listed value misses its Bloom filter — strictly fewer
    files than the envelope admits, zero false negatives."""
    import hashlib

    from pyspark.sql.datasource import In as DsIn

    lake = str(tmp_path / "lake")
    env = _env(spark, n=400).withColumn("tag", F.md5(F.col("pk")))
    M.merge_batch_into_lake(
        env, lake, n_buckets=4, retain_versions=4, extra_cols=("band", "tag")
    )
    M.compact_lake(
        spark, lake,
        target_files_per_bucket=0,
        retain_versions=4,
        max_records_per_file=10,
        stats_columns=("tag",),
        bloom_columns=("tag",),
    )
    register_lake_batch(spark)
    total = len(LakeBatchReader({"path": lake}).partitions())
    assert total >= 10
    tags = tuple(hashlib.md5(k.encode()).hexdigest() for k in ("k0010", "k0042", "k0099"))
    r = LakeBatchReader({"path": lake})
    unhandled = r.pushFilters([DsIn(("tag",), tags)])
    assert list(unhandled)  # every filter handed back: Spark re-applies
    assert r.value_sets == {"tag": frozenset(tags)}
    pruned = len(r.partitions())
    # the envelope alone admits far more files (md5 ranges span ~all)
    r2 = LakeBatchReader({"path": lake})
    r2.ranges = {"tag": (min(tags), max(tags))}
    envelope_only = len(r2.partitions())
    assert 0 < pruned * 2 <= total and pruned < envelope_only, (
        pruned, envelope_only, total,
    )
    # end-to-end through SQL: value-exact
    got = (
        spark.read.format("lake")
        .option("path", lake)
        .load()
        .filter(F.col("tag").isin(*tags))
        .collect()
    )
    assert {x["entity_id"] for x in got} == {"k0010", "k0042", "k0099"}


def test_row_changes_mode_matches_helper_and_stream(spark, history_lake, tmp_path):
    """changes=true + rowChanges=true (VERDICT r12 #2): the batch
    relation emits the FULL Delta-CDF vocabulary with pre-images
    (insert / update_preimage / update_postimage / delete), identical
    per step — every step kind — to the lake_changes_rows helper and
    in total to draining the streaming source with the same option."""
    register_lake_batch(spark)
    _assert_steps_match(
        spark, history_lake, M.lake_changes_rows,
        {4: 8, 5: 8, 6: 8, 1: None, 2: None, 3: 0},
        rowChanges="true",
    )
    step = _changes(spark, history_lake, 1, 2, rowChanges="true").collect()
    kinds = {r["change_type"] for r in step}
    assert "update_preimage" in kinds and "update_postimage" in kinds
    stream = _drained(
        spark, history_lake, "lb_rowchanges_stream", str(tmp_path / "ck_rc"),
        rowChanges="true",
    )
    full = _changes(spark, history_lake, 0, rowChanges="true")
    assert _rows(full, FEED_COLS) == _rows(stream, FEED_COLS)
