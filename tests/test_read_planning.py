"""Lake read planning on the driver: the scan schema comes from ONE
parquet footer (``log._footer_schema``) and point-read keys route to
buckets with the pure-Python XXH64, so building a read launches no
Spark job before its scan.

Pinned here: the footer schema equals Spark's own inference (and the
rows read under it are equal) across the lake's physical shapes —
LTZ and NTZ ``last_ts``, a clustered OPTIMIZE, an ``extra_cols``
epoch widened int→bigint; ``df.write.format("lake")`` files carry
Spark's schema key, and key-less Arrow files (older lakes) fall back
to inference;
a vanished footer file stays a missing-file error; the read builders
stay lazy; and point reads equal the filtered snapshot on a
non-power-of-two layout.

Keyed reads small enough for the driver (``stats._local_lookup``)
come back as a local relation: the parity suite pins that they equal
the scan path and the filtered snapshot in rows, schema and ``last_ts``
values across lake shapes, key sets and session zones, launch no Spark
job, open the files the scan would, and fall back to the scan on a
deletion vector or a plan over the threshold."""

from __future__ import annotations

import os
from contextlib import contextmanager
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

import lapidus_spark.streaming.materialize as M
from lapidus_spark.lake import log
from lapidus_spark.lake.stats import _plan_files
from lapidus_spark.sources import lake_batch
from lapidus_spark.sources.lake_batch import _bucket_of, register_lake_batch

COLS = ["entity_id", "last_seq", "last_ts", "last_type", "item", "bucket"]


def _env(spark, n=120, seq0=0, ntz=True, amount=None, keys=50):
    ts = F.timestamp_seconds(F.col("id") * 60 + 1_700_000_000 + seq0)
    cols = [
        F.format_string("k%03d", F.col("id") % keys).alias("pk"),
        (F.col("id") + seq0).alias("event_seq"),
        (ts.cast("timestamp_ntz") if ntz else ts).alias("ts"),
        F.when(F.col("id") % 13 == 0, "delete").otherwise("update").alias("type"),
        F.format_string("payload-%04d", F.col("id") + seq0).alias("item"),
    ]
    if amount is not None:
        cols.append((F.col("id") * 3).cast(amount).alias("amount"))
    return spark.range(n).select(*cols)


def _data_files(lake):
    m = M._read_manifest(lake)
    return sorted(
        os.path.join(lake, rel, f)
        for rel in m["buckets"].values()
        for f in os.listdir(os.path.join(lake, rel))
        if f.endswith(".parquet")
    )


def _rows(df, cols=None):
    return sorted(map(tuple, df.select(*(cols or df.columns)).collect()))


def _assert_footer_matches_inference(spark, path):
    got = log._footer_schema(path)
    inferred = spark.read.parquet(path)
    assert got == inferred.schema, path
    assert _rows(spark.read.schema(got).parquet(path)) == _rows(inferred)


@pytest.mark.parametrize("ntz", [True, False], ids=["ntz", "ltz"])
def test_footer_schema_equals_inference_on_merged_lake(spark, tmp_path, ntz):
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(_env(spark, ntz=ntz), lake, n_buckets=4)
    want = "timestamp_ntz" if ntz else "timestamp"
    files = _data_files(lake)
    assert files
    for path in [files[0], os.path.dirname(files[-1])]:  # a file and a dir
        _assert_footer_matches_inference(spark, path)
        assert log._footer_schema(path)["last_ts"].dataType.simpleString() == want


def test_footer_schema_equals_inference_after_clustered_compaction(spark, tmp_path):
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(_env(spark), lake, n_buckets=4, retain_versions=4)
    M.compact_lake(
        spark,
        lake,
        target_files_per_bucket=0,
        max_records_per_file=8,
        retain_versions=4,
        cluster_by=("entity_id", "last_ts"),
    )
    files = _data_files(lake)
    assert len(files) > 4  # the valve split buckets into several files
    for path in files[:3]:
        _assert_footer_matches_inference(spark, path)


def test_footer_schema_on_widened_epoch(spark, tmp_path):
    """Both physical widths of an int→bigint epoch: each footer equals
    inference, and the epoch read (explicit widened schema) equals
    reading each file under its own inferred schema, cast up."""
    lake = str(tmp_path / "lake")
    kw = dict(retain_versions=4, extra_cols=("amount",))
    M.merge_batch_into_lake(_env(spark, amount="int"), lake, n_buckets=4, **kw)
    M.merge_batch_into_lake(  # one key: the other buckets stay int32
        _env(spark, 1, seq0=900, amount="bigint"), lake, n_buckets=None, **kw
    )
    m = M._read_manifest(lake)
    assert m["columns"] == [{"name": "amount", "type": "bigint"}]
    files = _data_files(lake)
    widths = {log._footer_schema(f)["amount"].dataType.simpleString() for f in files}
    assert widths == {"int", "bigint"}
    for f in files:
        _assert_footer_matches_inference(spark, f)
    got = log._align_extras(log._read_commit_files(spark, m, files), m["columns"])
    assert dict(got.dtypes)["amount"] == "bigint"
    each = [
        spark.read.parquet(f).withColumn("amount", F.col("amount").cast("bigint"))
        for f in files
    ]
    exp = each[0]
    for df in each[1:]:
        exp = exp.unionByName(df)
    assert _rows(got, COLS + ["amount"]) == _rows(exp, COLS + ["amount"])


def test_arrow_written_footer_falls_back_to_inference(spark, tmp_path):
    """``df.write.format("lake")`` stamps Spark's schema key into the
    bucket files it writes, so their footer schema equals Spark's own
    read schema. Files without the key — what the writer produced
    before it stamped one, still live in older lakes — make the
    helper return None, and the read keeps Spark's inference."""
    import pyarrow.parquet as pq

    lake, twin = str(tmp_path / "lake"), str(tmp_path / "twin")
    register_lake_batch(spark)
    _env(spark).write.format("lake").mode("append").option("path", lake).save()
    M.merge_batch_into_lake(_env(spark), twin, n_buckets=8)
    files = _data_files(lake)
    assert files
    for f in files:
        _assert_footer_matches_inference(spark, f)
    assert _rows(M.read_lake_snapshot(spark, lake), COLS) == _rows(
        M.read_lake_snapshot(spark, twin), COLS
    )
    # the same bucket files re-written key-less, as pyarrow alone does
    for f in files:
        t = pq.read_table(f)
        pq.write_table(t.replace_schema_metadata(None), f)
    assert all(log._footer_schema(f) is None for f in files)
    got = log._read_commit_files(spark, M._read_manifest(lake), files)
    exp = spark.read.parquet(*files)
    assert got.schema == exp.schema
    assert _rows(got) == _rows(exp)
    assert _rows(M.read_lake_snapshot(spark, lake), COLS) == _rows(
        M.read_lake_snapshot(spark, twin), COLS
    )


def test_missing_footer_file_is_a_missing_file_error(spark, tmp_path):
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(_env(spark), lake, n_buckets=4)
    path = _data_files(lake)[0]
    os.remove(path)
    with pytest.raises(Exception) as exc:
        log._footer_schema(path)
    assert log._is_missing_file_error(exc.value)
    with pytest.raises(Exception) as exc:
        log._read_commit_files(spark, M._read_manifest(lake), [path])
    assert log._is_missing_file_error(exc.value)


# ---------------------------------------------------------------------------
# Lazy read builders and point-read routing on a non-power-of-two layout
# ---------------------------------------------------------------------------

#: keys stressing the driver-side XXH64 routing: empty, multi-byte
#: UTF-8, longer than one 32-byte stripe, and digit strings that the
#: point read is also asked for as ints
ODD_KEYS = ["", "日本語テスト", "ünïcødé", "x" * 40, "5", "17"]


@pytest.fixture(scope="module")
def seven_bucket_lake(spark, tmp_path_factory):
    """v1 merge (4 buckets) → v2 rebucket to 7 → v3 clustered OPTIMIZE
    with per-file zone maps → v4 a one-key merge, so v4 mixes
    zone-mapped buckets with one plain, freshly merged bucket."""
    lake = str(tmp_path_factory.mktemp("read_planning") / "lake")
    base = _env(spark, 200)
    odd = spark.createDataFrame(
        [(k, 10_000 + i, "update", f"odd-{i}") for i, k in enumerate(ODD_KEYS)],
        "pk string, event_seq long, type string, item string",
    ).withColumn("ts", F.lit("2024-01-01 00:00:00").cast("timestamp_ntz"))
    kw = dict(retain_versions=6)
    M.merge_batch_into_lake(base.unionByName(odd), lake, n_buckets=4, **kw)
    M.rebucket_lake(spark, lake, 7, **kw)
    M.compact_lake(
        spark,
        lake,
        target_files_per_bucket=0,
        max_records_per_file=6,
        cluster_by=("entity_id", "last_ts"),
        **kw,
    )
    M.merge_batch_into_lake(_env(spark, 1, seq0=5_000), lake, n_buckets=None, **kw)
    m = M._read_manifest(lake)
    assert m["n_buckets"] == 7 and m["file_stats"]
    assert set(m["buckets"]) - set(m["file_stats"])  # one plain bucket
    return lake


def test_read_builders_launch_no_spark_jobs(spark, seven_bucket_lake):
    """On a Spark-written lake, BUILDING a read (point, snapshot, time
    window, change feed) plans on the driver: key routing by the
    pure-Python XXH64 and the scan schema from one footer — zero Spark
    jobs before the caller runs the scan."""
    lake = seven_bucket_lake
    sc = spark.sparkContext
    sc.setJobGroup("read_builder_audit", "lake read builders must be lazy")
    try:
        frames = [
            M.lake_point_read(spark, lake, ["k001", "k042", "x" * 40, "absent"]),
            M.lake_point_read(spark, lake, ["k003"], version=3),
            M.read_lake_snapshot(spark, lake),
            M.read_lake_snapshot(spark, lake, version=2),
            M.lake_time_read(spark, lake, "2023-11-14 22:13:00", "2023-11-15 00:00:00"),
            M.lake_changes(spark, lake, from_version=3, to_version=4),
        ]
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("read_builder_audit")
    assert list(jobs) == [], f"read builders ran Spark jobs: {jobs}"
    assert all("entity_id" in df.columns for df in frames)


@pytest.mark.parametrize("version", [3, 4])
def test_point_read_equals_filtered_snapshot_on_seven_buckets(
    spark, seven_bucket_lake, version
):
    keys = ODD_KEYS + ["", "x" * 40, "k001", "k001", "k049", 5, 17, "absent"]
    key_strs = [str(k) for k in keys]
    got = M.lake_point_read(spark, seven_bucket_lake, keys, version=version)
    exp = M.read_lake_snapshot(spark, seven_bucket_lake, version=version).filter(
        F.col("entity_id").isin(key_strs)
    )
    assert _rows(got, COLS) == _rows(exp, COLS)
    assert {r[0] for r in _rows(got, COLS)} == set(key_strs) - {"absent"}


# ---------------------------------------------------------------------------
# Local lookups: small keyed reads served from the driver
# ---------------------------------------------------------------------------

THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


@contextmanager
def _conf(spark, key, value):
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _is_local(df) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "LocalTableScan" in plan and "FileScan" not in plan


def _view(df):
    """Schema plus rows, with ``last_ts`` also rendered in the session
    zone (a shifted instant would change the string)."""
    rows = df.select(*df.columns, F.col("last_ts").cast("string").alias("ts_text"))
    return df.schema, _rows(rows)


def _audited_local(spark, build):
    """``build()``'s frame, asserted to be a local relation that
    launches no Spark job from build through collect."""
    sc = spark.sparkContext
    group = f"local_lookup_{id(build)}"
    sc.setJobGroup(group, "a local lookup must launch no job")
    try:
        df = build()
        view = _view(df)
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert _is_local(df)
    return view


@pytest.fixture(scope="module")
def lookup_lakes(spark, tmp_path_factory, seven_bucket_lake):
    """An INT96 ``timestamp`` lake and a ``timestamp_ntz`` lake; a lake
    whose extra column was accreted by a later merge (older files lack
    it), widened int→bigint and renamed; and the rebucketed (7),
    clustered-compacted lake with zone maps. The first three hold 12
    keys over 16 buckets, so some buckets were never written."""
    root = tmp_path_factory.mktemp("local_lookup")
    lakes = {"rebucketed_clustered": seven_bucket_lake}
    for name, ntz in (("int96_ltz", False), ("ntz", True)):
        lakes[name] = str(root / name)
        M.merge_batch_into_lake(_env(spark, ntz=ntz, keys=12), lakes[name], n_buckets=16)
    lake = lakes["extras"] = str(root / "extras")
    kw = dict(retain_versions=6)
    M.merge_batch_into_lake(_env(spark, keys=12), lake, n_buckets=16, **kw)
    evolve = dict(n_buckets=None, extra_cols=("amount",), **kw)
    M.merge_batch_into_lake(_env(spark, 4, seq0=500, amount="int", keys=12), lake, **evolve)
    M.merge_batch_into_lake(_env(spark, 1, seq0=900, amount="bigint", keys=12), lake, **evolve)
    M.rename_lake_column(lake, "amount", "qty", retain_versions=6)
    assert M._read_manifest(lake)["columns"][0]["type"] == "bigint"
    widths = {
        s["amount"].dataType.simpleString() if "amount" in s.names else None
        for s in map(log._footer_schema, _data_files(lake))
    }
    assert widths == {None, "int", "bigint"}  # predating, narrow and wide files
    return lakes


def _key_sets(lake) -> dict:
    m = M._read_manifest(lake)
    n = m["n_buckets"]
    unwritten = [
        k for k in (f"nw{i}" for i in range(400)) if str(_bucket_of(k, n)) not in m["buckets"]
    ][:3]
    mixed = [*ODD_KEYS, "k001", "k001", "k007", "k011", 5, 17, "absent", *unwritten[:1]]
    sets = {"empty": [], "mixed": mixed}
    if unwritten:
        sets["unwritten"] = unwritten
    return sets


@pytest.mark.parametrize("tz", ["UTC", "America/New_York", "Asia/Tokyo"])
@pytest.mark.parametrize("name", ["int96_ltz", "ntz", "extras", "rebucketed_clustered"])
def test_local_lookup_equals_scan_and_snapshot(spark, lookup_lakes, name, tz):
    lake = lookup_lakes[name]
    key_sets = _key_sets(lake)
    assert ("unwritten" in key_sets) == (name != "rebucketed_clustered")
    with _conf(spark, "spark.sql.session.timeZone", tz):
        for keys in key_sets.values():
            key_strs = [str(k) for k in keys]
            snap = _view(M.read_lake_snapshot(spark, lake).filter(F.col("entity_id").isin(key_strs)))
            reads = [lambda: M.lake_point_read(spark, lake, keys)]
            if keys:
                reads.append(
                    lambda: M.lake_skip_read(spark, lake, {}, in_values={"entity_id": key_strs})
                )
                reads.append(
                    lambda: M.lake_skip_read(spark, lake, {"entity_id": (key_strs[0],) * 2})
                )
            for i, build in enumerate(reads):
                local = _audited_local(spark, build)
                with _conf(spark, THRESHOLD, "-1"):
                    df = build()
                    assert not _is_local(df) or not keys
                    scan = _view(df)
                assert local == scan, (name, tz, keys, i)
                if i < 2:
                    assert local == snap, (name, tz, keys, i)


def test_local_lookup_opens_the_scan_files(spark, seven_bucket_lake, monkeypatch):
    """The local lookup reads exactly the files the scan path lists in
    ``inputFiles()`` for the same read — zone-map-pruned buckets and
    the whole plain bucket alike."""
    opened = []
    read = lake_batch._aligned_file_table

    def spy(f, *args, **kwargs):
        opened.append(f)
        return read(f, *args, **kwargs)

    monkeypatch.setattr(lake_batch, "_aligned_file_table", spy)
    lake = seven_bucket_lake
    keys = ["k000", "k001", "k042", "x" * 40, "5", "日本語テスト"]
    m = M._read_manifest(lake)
    plan = _plan_files(lake, m, {}, {"entity_id": keys})
    assert None in plan.values() and any(plan.values())  # whole and pruned
    assert _is_local(M.lake_point_read(spark, lake, keys))
    with _conf(spark, THRESHOLD, "-1"):
        scanned = M.lake_point_read(spark, lake, keys).inputFiles()
    assert opened
    assert sorted(opened) == sorted(os.path.normpath(urlparse(f).path) for f in scanned)


def test_local_lookup_falls_back_to_the_scan(spark, tmp_path):
    """A plan over the threshold, a bucket carrying deletion-vector
    entries and an epoch column type the Arrow alignment does not map
    each take the scan path, and every
    read still equals the filtered snapshot. A local lookup is read
    eagerly, so removing its files afterwards cannot fail it."""
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(_env(spark, keys=12), lake, n_buckets=16, retain_versions=4)

    def check(keys, local):
        df = M.lake_point_read(spark, lake, keys)
        assert _is_local(df) == local, keys
        snap = M.read_lake_snapshot(spark, lake).filter(F.col("entity_id").isin(keys))
        assert _view(df) == _view(snap)
        return df

    keys = ["k001", "k002", "k003"]
    m = M._read_manifest(lake)
    planned = [f for files in _plan_files(lake, m, {}, {"entity_id": keys}).values() for f in files or ()]
    dirs = {os.path.join(lake, m["buckets"][str(_bucket_of(k, 16))]) for k in keys}
    planned += [os.path.join(d, f) for d in dirs for f in os.listdir(d) if f.endswith(".parquet")]
    size = sum(os.path.getsize(f) for f in planned)
    with _conf(spark, THRESHOLD, str(size)):
        check(keys, True)
    with _conf(spark, THRESHOLD, str(size - 1)):
        check(keys, False)

    M.delete_from_lake(spark, lake, "entity_id = 'k003'", mode="dv", retain_versions=4)
    dv_bucket = _bucket_of("k003", 16)
    other = next(k for k in (f"k{i:03d}" for i in range(12)) if _bucket_of(k, 16) != dv_bucket)
    check(["k003", other], False)
    eager = check([other], True)
    rows = _rows(eager)
    for d in {os.path.join(lake, M._read_manifest(lake)["buckets"][str(_bucket_of(other, 16))])}:
        for f in os.listdir(d):
            os.remove(os.path.join(d, f))
    assert _rows(eager) == rows and rows

    lake = str(tmp_path / "array_extra")
    tagged = _env(spark, keys=12).withColumn("tags", F.array("item"))
    M.merge_batch_into_lake(tagged, lake, n_buckets=16, extra_cols=("tags",))
    assert M._read_manifest(lake)["columns"] == [{"name": "tags", "type": "array<string>"}]
    check(["k001", "k002"], False)


@pytest.mark.parametrize("name", ["int96_ltz", "ntz"])
def test_time_read_rows_do_not_depend_on_the_session_zone(spark, lookup_lakes, name):
    """The window's bounds are UTC instants on both lake types: an LTZ
    ``last_ts`` is compared as an instant and an NTZ one as the UTC
    wall clock the zone maps record, so every session zone returns the
    rows a UTC session does."""
    lake = lookup_lakes[name]

    def read():
        df = M.lake_time_read(spark, lake, "2023-11-15 00:00:00", "2023-11-15 00:06:00")
        return _rows(df, ["entity_id", "last_seq"])

    want = read()
    assert want and len(want) < len(_rows(M.read_lake_snapshot(spark, lake), ["entity_id"]))
    for tz in ("America/New_York", "Asia/Tokyo"):
        with _conf(spark, "spark.sql.session.timeZone", tz):
            assert read() == want, tz
