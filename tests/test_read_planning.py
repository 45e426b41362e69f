"""Lake read planning on the driver: the scan schema comes from ONE
parquet footer (``log._footer_schema``) and point-read keys route to
buckets with the pure-Python XXH64, so building a read launches no
Spark job before its scan.

Pinned here: the footer schema equals Spark's own inference (and the
rows read under it are equal) across the lake's physical shapes —
LTZ and NTZ ``last_ts``, a clustered OPTIMIZE, an ``extra_cols``
epoch widened int→bigint; Arrow-written files fall back to inference;
a vanished footer file stays a missing-file error; the read builders
stay lazy; and point reads equal the filtered snapshot on a
non-power-of-two layout."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import lapidus_spark.streaming.materialize as M
from lapidus_spark.lake import log
from lapidus_spark.sources.lake_batch import register_lake_batch

COLS = ["entity_id", "last_seq", "last_ts", "last_type", "item", "bucket"]


def _env(spark, n=120, seq0=0, ntz=True, amount=None):
    ts = F.timestamp_seconds(F.col("id") * 60 + 1_700_000_000 + seq0)
    cols = [
        F.format_string("k%03d", F.col("id") % 50).alias("pk"),
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
    """``df.write.format("lake")`` writes bucket files with Arrow, whose
    footers carry no Spark schema key: the helper returns None, the
    read keeps Spark's inference, and the snapshot equals the library
    merge of the same batch."""
    lake, twin = str(tmp_path / "lake"), str(tmp_path / "twin")
    register_lake_batch(spark)
    _env(spark).write.format("lake").mode("append").option("path", lake).save()
    M.merge_batch_into_lake(_env(spark), twin, n_buckets=8)
    files = _data_files(lake)
    assert files and all(log._footer_schema(f) is None for f in files)
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
