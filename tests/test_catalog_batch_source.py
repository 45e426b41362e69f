"""Batch ``spark.read.format("catalog")`` DataSource (round 12) — the
tx-consistent twin of ``format("lake")``: member-table snapshots
resolved through committed catalog entries, and the multi-table
change feed as a batch relation.

Pinned here: snapshot ≡ ``read_catalog_table`` (live and pinned
``catalogVersion``), cross-table tx-consistency under one catalog
version, ``changes=true`` identical to draining the ``catalog_cdf``
stream (tbl/ver/tbl_ver included) across a member table's direct
deletion-vector DELETE, whose step equals ``lake_changes``, the SQL
USING-catalog view, filter
pushdown reuse (bucket pruning on the member table), and the
option-validation failure postures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import lapidus_spark.lake.catalog as C
import lapidus_spark.streaming.materialize as M
from lapidus_spark.sources.catalog_batch import register_catalog_batch
from tests.test_catalog_source import _build_catalog, _halves

SNAP = ["entity_id", "last_seq", "last_ts", "last_type", "item"]
FEED = ["tbl", "entity_id", "change_type", "last_seq", "last_ts",
        "last_type", "item", "ver", "tbl_ver"]


def _rows(df, cols):
    return sorted(map(tuple, df.select(*cols).collect()))


def test_snapshot_matches_read_catalog_table(spark, tmp_path):
    cat = str(tmp_path / "cat")
    _build_catalog(spark, cat)
    register_catalog_batch(spark)
    for ver in (None, 2):
        for tbl in ("by_user", "by_type"):
            reader = (
                spark.read.format("catalog")
                .option("path", cat)
                .option("table", tbl)
            )
            if ver is not None:
                reader = reader.option("catalogVersion", str(ver))
            got = reader.load()
            exp = C.read_catalog_table(spark, cat, tbl, catalog_version=ver)
            assert _rows(got, SNAP) == _rows(exp, SNAP), (tbl, ver)


def test_tx_consistency_across_tables(spark, tmp_path):
    """Both tables read under catalog version 2 observe EXACTLY txs
    1-2 — the fixture stamps advance per tx, so any tx-3 leakage in
    either table shows up as a higher max stamp."""
    cat = str(tmp_path / "cat")
    _build_catalog(spark, cat)
    register_catalog_batch(spark)
    for tbl in ("by_user", "by_type"):
        got = (
            spark.read.format("catalog")
            .option("path", cat)
            .option("table", tbl)
            .option("catalogVersion", "2")
            .load()
        )
        hi = got.agg(F.max("last_seq").alias("m")).first()["m"]
        assert 2_000_000 <= hi < 3_000_000, (tbl, hi)


def test_changes_matches_streamed_catalog_cdf(spark, tmp_path):
    """Between txs 2 and 3, ``by_user`` takes a direct DV DELETE of 8
    keys (table version 3: pointers kept, vector moved), so catalog
    version 3 spans two table steps of it; both feeds emit the DV
    step's 8 deletes exactly as ``lake_changes`` does."""
    cat = str(tmp_path / "cat")
    _build_catalog(spark, cat, n_txs=2)
    member = str(tmp_path / "cat" / "by_user")
    live = M.read_lake_snapshot(spark, member).collect()
    keys = sorted(r["entity_id"] for r in live)[:8]
    M.delete_from_lake(
        spark, member,
        "entity_id IN ({})".format(", ".join(f"'{k}'" for k in keys)),
        retain_versions=8, mode="dv",
    )
    C.commit_multi_table_tx(
        cat, _halves(spark, 4, 2, seq_shift=3_000_000), txid=3,
        retain_versions=8, n_buckets=4,
    )
    register_catalog_batch(spark)
    got = (
        spark.read.format("catalog")
        .option("path", cat)
        .option("changes", "true")
        .load()
    )
    from lapidus_spark.streaming.catalog_source import register_catalog_cdf

    register_catalog_cdf(spark)
    q = (
        spark.readStream.format("catalog_cdf")
        .option("path", cat)
        .load()
        .writeStream.format("memory")
        .queryName("catbatch_stream")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    assert _rows(got, FEED) == _rows(spark.table("catbatch_stream"), FEED)
    assert got.count() > 0
    ccols = ["entity_id", "change_type", "last_seq", "last_type", "item"]
    dv_step = got.filter((F.col("tbl") == "by_user") & (F.col("tbl_ver") == 3))
    helper = M.lake_changes(spark, member, from_version=2, to_version=3)
    assert _rows(dv_step, ccols) == _rows(helper, ccols)
    assert _rows(dv_step, ["entity_id", "change_type"]) == [(k, "delete") for k in keys]
    # a bounded slice: only tx 3
    step = (
        spark.read.format("catalog")
        .option("path", cat)
        .option("changes", "true")
        .option("startingVersion", "2")
        .option("endingVersion", "3")
        .load()
    )
    assert {r["ver"] for r in step.select("ver").distinct().collect()} == {3}


def test_sql_view_and_pushdown_reuse(spark, tmp_path):
    cat = str(tmp_path / "cat")
    _build_catalog(spark, cat)
    register_catalog_batch(spark)
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW cb_v USING catalog "
        f"OPTIONS (path '{cat}', `table` 'by_user')"
    )
    got = spark.sql(
        "SELECT entity_id, last_seq FROM cb_v WHERE entity_id = '7'"
    ).collect()
    exp = (
        C.read_catalog_table(spark, cat, "by_user")
        .filter(F.col("entity_id") == "7")
        .select("entity_id", "last_seq")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, exp))
    # the snapshot reader IS the lake batch reader: an entity_id
    # equality plans only its bucket's files
    from lapidus_spark.sources.catalog_batch import CatalogDataSource

    src = CatalogDataSource(options={"path": cat, "table": "by_user"})
    r_all = src.reader(None)
    total = len(r_all.partitions())
    r_pr = CatalogDataSource(
        options={"path": cat, "table": "by_user"}
    ).reader(None)
    r_pr.ranges, r_pr.eq_keys = {"entity_id": ("7", "7")}, {"7"}
    assert 0 < len(r_pr.partitions()) < total


def test_option_validation(spark, tmp_path):
    cat = str(tmp_path / "cat")
    _build_catalog(spark, cat, n_txs=1)
    register_catalog_batch(spark)
    with pytest.raises(Exception, match="table"):
        spark.read.format("catalog").option("path", cat).load()
    with pytest.raises(Exception, match="no table"):
        (
            spark.read.format("catalog")
            .option("path", cat)
            .option("table", "nope")
            .load()
        )
    with pytest.raises(Exception, match="not table"):
        (
            spark.read.format("catalog")
            .option("path", cat)
            .option("changes", "true")
            .option("table", "by_user")
            .load()
            .collect()
        )
    with pytest.raises(Exception, match="endingVersion"):
        (
            spark.read.format("catalog")
            .option("path", cat)
            .option("changes", "true")
            .option("startingVersion", "1")
            .option("endingVersion", "0")
            .load()
            .collect()
        )


def test_timestamp_as_of_resolves_tx_consistent_instants(spark, tmp_path):
    """Catalog-level TIMESTAMP AS OF (round 13): entries stamp their
    commit instant, so a tx-consistent multi-table snapshot is
    instant-addressable — the catalog twin of the lake's
    timestampAsOf, resolved by catalog_version_at (newest entry at or
    before the instant)."""
    cat = str(tmp_path / "cat")
    _build_catalog(spark, cat)
    register_catalog_batch(spark)
    e2 = C.catalog_entry(cat, 2)
    e3 = C.catalog_entry(cat)
    assert float(e3["committed_at"]) > float(e2["committed_at"])
    # an instant between tx 2 and tx 3 resolves to catalog version 2
    mid = (float(e2["committed_at"]) + float(e3["committed_at"])) / 2
    assert C.catalog_version_at(cat, mid) == 2
    from datetime import datetime, timezone

    iso = datetime.fromtimestamp(mid, tz=timezone.utc).isoformat()
    for tbl in ("by_user", "by_type"):
        got = (
            spark.read.format("catalog")
            .option("path", cat)
            .option("table", tbl)
            .option("timestampAsOf", iso)
            .load()
        )
        exp = C.read_catalog_table(spark, cat, tbl, catalog_version=2)
        assert _rows(got, SNAP) == _rows(exp, SNAP), tbl
    # at/after the live instant: the live entry
    assert C.catalog_version_at(cat, float(e3["committed_at"])) == 3
    # before the first retained stamp: fail fast, named error
    with pytest.raises(ValueError, match="predates the oldest retained"):
        C.catalog_version_at(cat, 0.0)
    # mutual exclusion with catalogVersion
    with pytest.raises(Exception, match="not both"):
        (
            spark.read.format("catalog")
            .option("path", cat)
            .option("table", "by_user")
            .option("catalogVersion", "2")
            .option("timestampAsOf", iso)
            .load()
            .collect()
        )
