"""Batch ``df.write.format("lake")`` writer (VERDICT r12 #1) — the
producer-side DSv2 twin of the batch reader: an envelope batch MERGEs
into the lake through the same commit protocol as
``merge_batch_into_lake``, with no library import.

Pinned here beyond the oracle gate (``lake_sql_write``): byte-level
twin parity with the library merge over the same batches (snapshot,
CDF rows, manifest semantics), LWW correctness within and across
batches including tombstone retention, CHECK-constraint refusal
through the write path (table unchanged), txn-marker idempotency via
``option("txnAppId"/"txnVersion")``, concurrent-writer serialization
under the lake lock, schema evolution (accretion, widening, type
conflict) inferred from the batch schema, ``mode("overwrite")`` as
the replace-the-table commit, deletion-vector-aware combines, and the
validation failure postures."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

import lapidus_spark.streaming.materialize as M
from lapidus_spark.sources.lake_batch import register_lake_batch

COLS = ["entity_id", "last_seq", "last_ts", "last_type", "item", "bucket"]


def _env(spark, n=120, start=0, seq_shift=0, item=None):
    item_col = item if item is not None else F.format_string(
        "payload-%04d", F.col("id")
    )
    return spark.range(start, start + n).select(
        F.format_string("k%04d", F.col("id") % 60).alias("pk"),
        (F.col("id") + seq_shift).alias("event_seq"),
        F.timestamp_seconds((F.col("id") + seq_shift) * 60 + 1_700_000_000)
        .cast("timestamp_ntz")
        .alias("ts"),
        F.lit("update").alias("type"),
        item_col.alias("item"),
    )


def _snap(spark, lake, version=None, cols=COLS):
    return sorted(
        tuple(r)
        for r in M.read_lake_snapshot(spark, lake, version=version)
        .select(*cols)
        .collect()
    )


def _write(df, lake, mode="append", **opts):
    w = df.write.format("lake").mode(mode).option("path", lake)
    for k, v in opts.items():
        w = w.option(k, v)
    w.save()


def test_twin_parity_with_library_merge(spark, tmp_path):
    """The SAME batches through df.write and merge_batch_into_lake
    produce value-identical snapshots AND identical CDF rows — the
    write path is the library merge, not an approximation of it."""
    register_lake_batch(spark)
    sql_lake, lib_lake = str(tmp_path / "sql"), str(tmp_path / "lib")
    b1 = _env(spark, 120)
    b2 = _env(spark, 60, start=300, seq_shift=1000)  # LWW movers
    b3 = _env(spark, 10, start=25, seq_shift=-500)  # stale: all lose
    _write(b1, sql_lake, retainVersions="6")
    _write(b2, sql_lake, retainVersions="6")
    _write(b3, sql_lake, retainVersions="6")
    for b in (b1, b2, b3):
        M.merge_batch_into_lake(b, lib_lake, n_buckets=8, retain_versions=6)
    assert _snap(spark, sql_lake) == _snap(spark, lib_lake)
    # versions and time travel line up
    assert M._read_manifest(sql_lake)["version"] == 3
    assert _snap(spark, sql_lake, version=1) == _snap(spark, lib_lake, version=1)
    # the stale batch merged as a provable no-op on values
    assert _snap(spark, sql_lake, version=2) == _snap(spark, sql_lake, version=3)

    # CDF: row-level changes across the same commits are identical
    ccols = ["entity_id", "change_type", "last_seq", "last_type", "item"]
    for frm, to in ((1, 2), (2, 3)):
        a = sorted(
            tuple(r)
            for r in M.lake_changes_rows(
                spark, sql_lake, from_version=frm, to_version=to
            ).select(*ccols).collect()
        )
        b = sorted(
            tuple(r)
            for r in M.lake_changes_rows(
                spark, lib_lake, from_version=frm, to_version=to
            ).select(*ccols).collect()
        )
        assert a == b, (frm, to)
    # and the SQL read path closes the loop without the library
    got = (
        spark.read.format("lake").option("path", sql_lake).load()
        .select(*COLS).collect()
    )
    assert sorted(map(tuple, got)) == _snap(spark, lib_lake)


def test_lww_within_batch_and_tombstones(spark, tmp_path):
    """A single staged batch with colliding keys resolves by
    (ts, event_seq) exactly like snapshot_stream; a staged delete
    beats older events, and a STORED tombstone beats an older staged
    event across commits (the combine keeps tombstones — dropping
    them would resurrect)."""
    register_lake_batch(spark)
    lake = str(tmp_path / "lake")
    env = _env(spark, 120)  # 60 keys × 2 events each: in-batch LWW
    _write(env, lake, retainVersions="6")
    got = {r["entity_id"]: r["last_seq"] for r in
           M.read_lake_snapshot(spark, lake).collect()}
    assert len(got) == 60 and got["k0000"] == 60 and got["k0059"] == 119
    # delete k0003 with a winning stamp
    tomb = _env(spark, 1, start=3, seq_shift=10_000).withColumn(
        "type", F.lit("delete")
    )
    _write(tomb, lake, retainVersions="6")
    live = {r["entity_id"] for r in M.read_lake_snapshot(spark, lake).collect()}
    assert "k0003" not in live and len(live) == 59
    # an OLDER staged event for k0003 must NOT resurrect it
    stale = _env(spark, 1, start=3, seq_shift=500)
    _write(stale, lake, retainVersions="6")
    live2 = {r["entity_id"] for r in M.read_lake_snapshot(spark, lake).collect()}
    assert "k0003" not in live2


def test_per_bucket_combine_over_multifile_buckets(spark, tmp_path):
    """Round-14 internals pin for the per-bucket commit pipeline: a
    df.write onto a table whose buckets hold SEVERAL stored parquet
    files (post-compaction split layout) — the combine must read
    every file of each touched bucket, resolve LWW per bucket exactly
    like the library merge (per-bucket LWW == global LWW restricted
    to the bucket: entity→bucket is functional), retain stored
    tombstones, and land one file per touched bucket."""
    from lapidus_spark.lake.admin import compact_lake

    register_lake_batch(spark)
    sql_lake, lib_lake = str(tmp_path / "sql"), str(tmp_path / "lib")
    base = _env(spark, 120)
    tomb = _env(spark, 1, start=7, seq_shift=10_000).withColumn(
        "type", F.lit("delete")
    )
    for lake in (sql_lake, lib_lake):
        M.merge_batch_into_lake(base, lake, n_buckets=8, retain_versions=6)
        M.merge_batch_into_lake(tomb, lake, n_buckets=None, retain_versions=6)
        # force a SPLIT rewrite: every bucket now holds several files
        compact_lake(
            spark, lake, target_files_per_bucket=0, max_records_per_file=4,
            retain_versions=6,
        )
        m = M._read_manifest(lake)
        multi = [
            b for b, rel in m["buckets"].items()
            if len(glob.glob(os.path.join(lake, rel, "*.parquet"))) > 1
        ]
        assert multi, "fixture premise: compaction must split bucket files"
    # movers + stale losers + an older event for the tombstoned key
    b2 = _env(spark, 60, start=300, seq_shift=1000)
    _write(b2, sql_lake, retainVersions="6")
    M.merge_batch_into_lake(b2, lib_lake, n_buckets=None, retain_versions=6)
    assert _snap(spark, sql_lake) == _snap(spark, lib_lake)
    live = {r["entity_id"] for r in M.read_lake_snapshot(spark, sql_lake).collect()}
    assert "k0007" not in live  # stored tombstone survived the combine
    # the commit landed exactly one file per touched bucket
    m = M._read_manifest(sql_lake)
    commit_dirs = {
        rel for rel in m["buckets"].values() if "commits/" in rel
    }
    latest = max(commit_dirs)
    for d in glob.glob(os.path.join(sql_lake, latest, "pb=*")):
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d


def test_constraint_refusal_through_write_path(spark, tmp_path):
    """A CHECK constraint recorded on the table refuses a violating
    df.write batch with the same error and leaves the table
    unchanged — and NULL passes, only FALSE violates."""
    register_lake_batch(spark)
    lake = str(tmp_path / "lake")
    _write(_env(spark, 60), lake, retainVersions="6")
    M.add_constraint(spark, lake, "seq_nonneg", "last_seq >= 0", retain_versions=6)
    want = _snap(spark, lake)
    bad = _env(spark, 5, start=200, seq_shift=-10_000)  # negative seqs
    with pytest.raises(Exception, match="CHECK constraint"):
        _write(bad, lake, retainVersions="6")
    assert _snap(spark, lake) == want
    assert M._read_manifest(lake)["version"] == 2  # commit refused
    # (v2 is add_constraint's own metadata-only commit)
    # NULL item passes a constraint on item (SQL-standard unknown)
    M.add_constraint(spark, lake, "item_prefix", "item LIKE 'payload-%'", retain_versions=6)
    ok = _env(spark, 3, start=400, seq_shift=5000, item=F.lit(None).cast("string"))
    _write(ok, lake, retainVersions="6")
    assert M._read_manifest(lake)["version"] == 4


def test_txn_marker_idempotency(spark, tmp_path):
    """option(txnAppId/txnVersion) is Delta's idempotent-writer
    marker: a replayed version is skipped outright (no version bump),
    a newer version applies, and regressing versions raise."""
    register_lake_batch(spark)
    lake = str(tmp_path / "lake")
    b1 = _env(spark, 60)
    _write(b1, lake, retainVersions="6", txnAppId="app", txnVersion="1")
    assert M._read_manifest(lake)["version"] == 1
    # replay: skipped outright
    _write(b1, lake, retainVersions="6", txnAppId="app", txnVersion="1")
    assert M._read_manifest(lake)["version"] == 1
    # next version applies
    _write(
        _env(spark, 60, seq_shift=1000), lake,
        retainVersions="6", txnAppId="app", txnVersion="2",
    )
    m = M._read_manifest(lake)
    assert m["version"] == 2 and m["txns"] == {"app": 2}
    # a DIFFERENT app is independent
    _write(
        _env(spark, 10, start=700, seq_shift=3000), lake,
        retainVersions="6", txnAppId="other", txnVersion="7",
    )
    assert M._read_manifest(lake)["txns"] == {"app": 2, "other": 7}


def test_concurrent_writers_serialize_without_loss(spark, tmp_path):
    """Two df.write commits racing on the same table serialize under
    the lake's writer lock: both land, neither clobbers the other's
    buckets (the conflict-safety the locked merge path guarantees)."""
    from pyspark import InheritableThread

    register_lake_batch(spark)
    lake = str(tmp_path / "lake")
    _write(_env(spark, 10), lake, retainVersions="6")  # pin the layout
    lo = _env(spark, 30, start=1000, seq_shift=2000)   # keys k0040..
    hi = _env(spark, 30, start=2030, seq_shift=2000)   # keys k0050..
    errs = []

    def run(df):
        try:
            # the JVM resolves Python data sources through the
            # thread-local active session; a fresh py4j worker thread
            # starts without one
            spark._jvm.org.apache.spark.sql.SparkSession.setActiveSession(
                spark._jsparkSession
            )
            _write(df, lake, retainVersions="6")
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    t1, t2 = InheritableThread(target=run, args=(lo,)), InheritableThread(
        target=run, args=(hi,)
    )
    t1.start(); t2.start(); t1.join(); t2.join()
    assert errs == []
    m = M._read_manifest(lake)
    assert m["version"] == 3  # both committed, serialized
    live = {r["entity_id"]: r["last_seq"] for r in
            M.read_lake_snapshot(spark, lake).collect()}
    for r in lo.collect():
        assert live[r["pk"]] >= r["event_seq"]
    for r in hi.collect():
        assert live[r["pk"]] >= r["event_seq"]


def test_schema_evolution_accretes_widens_and_refuses(spark, tmp_path):
    """Extra payload columns are inferred from the batch schema: a
    new column accretes a schema epoch (older files null-fill), a
    wider redeclaration widens (int→bigint), an off-chain
    redeclaration refuses — the _evolved_schema rules, reached
    through df.write."""
    register_lake_batch(spark)
    lake = str(tmp_path / "lake")
    _write(_env(spark, 60), lake, retainVersions="6")
    with_shard = _env(spark, 60, seq_shift=1000).withColumn(
        "shard", (F.col("event_seq") % 5).cast("int")
    )
    _write(with_shard, lake, retainVersions="6")
    snap = M.read_lake_snapshot(spark, lake)
    assert "shard" in snap.columns
    assert snap.filter(F.col("shard").isNotNull()).count() == 60
    m = M._read_manifest(lake)
    assert m["columns"] == [{"name": "shard", "type": "int"}]
    # time travel reads version 1 under its own (shard-less) epoch
    assert "shard" not in M.read_lake_snapshot(spark, lake, version=1).columns
    # widening: bigint redeclaration moves the epoch
    wide = _env(spark, 10, seq_shift=2000).withColumn(
        "shard", (F.col("event_seq") % 5).cast("bigint")
    )
    _write(wide, lake, retainVersions="6")
    assert M._read_manifest(lake)["columns"] == [
        {"name": "shard", "type": "bigint"}
    ]
    # off-chain type refuses
    bad = _env(spark, 5, seq_shift=3000).withColumn("shard", F.lit("x"))
    with pytest.raises(Exception, match="pinned as"):
        _write(bad, lake, retainVersions="6")


def test_overwrite_replaces_the_table(spark, tmp_path):
    register_lake_batch(spark)
    lake = str(tmp_path / "lake")
    _write(_env(spark, 120), lake, retainVersions="6")
    small = _env(spark, 6, start=600, seq_shift=9000)
    _write(small, lake, mode="overwrite", retainVersions="6")
    live = _snap(spark, lake)
    assert len(live) == 6  # the table IS the batch's LWW state
    assert {e for (e, *_r) in live} == {r["pk"] for r in small.collect()}
    # history retained: the pre-overwrite version still time-travels
    assert len(_snap(spark, lake, version=1)) == 60


def test_dv_twin_parity(spark, tmp_path):
    """A follow-up batch into a DV-carrying lake combines identically
    through df.write and the library merge — redacted row versions
    stay gone on both paths."""
    register_lake_batch(spark)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    base = _env(spark, 120)
    _write(base, a, retainVersions="6")
    M.merge_batch_into_lake(base, b, n_buckets=8, retain_versions=6)
    for lk in (a, b):
        M.delete_from_lake(
            spark, lk, "entity_id = 'k0007'", retain_versions=6, mode="dv"
        )
    # an event OLDER than the redacted row (seq 67) loses to the
    # redaction on both paths: the DV hit reads as a tombstone in the
    # combine, exactly as the library merge's masked read makes it
    stale = spark.createDataFrame(
        [("k0007", 1, "update", "stale")],
        "pk string, event_seq long, type string, item string",
    ).select(
        "pk", "event_seq",
        F.timestamp_seconds(F.lit(1_700_000_060)).cast("timestamp_ntz").alias("ts"),
        "type", "item",
    )
    _write(stale, a, retainVersions="6")
    M.merge_batch_into_lake(stale, b, n_buckets=None, retain_versions=6)
    assert _snap(spark, a) == _snap(spark, b)
    assert all(e != "k0007" for (e, *_r) in _snap(spark, a))
    nxt = _env(spark, 30, start=240, seq_shift=50)  # touches many buckets
    _write(nxt, a, retainVersions="6")
    M.merge_batch_into_lake(nxt, b, n_buckets=None, retain_versions=6)
    assert _snap(spark, a) == _snap(spark, b)
    # the redacted row VERSION stays gone on both paths; k0007 is live
    # again only through the follow-up batch's newer event (seq 290)
    seqs = {e: s for (e, s, *_r) in _snap(spark, a)}
    assert seqs["k0007"] == 247 + 50  # id 247 in the follow-up batch
    # a bucket the follow-up did NOT touch keeps its redaction intact
    untouched = _env(spark, 1, start=3, seq_shift=20_000)
    for lk in (a, b):
        M.delete_from_lake(
            spark, lk, "entity_id = 'k0031'", retain_versions=6, mode="dv"
        )
    _write(untouched, a, retainVersions="6")
    M.merge_batch_into_lake(untouched, b, n_buckets=None, retain_versions=6)
    assert _snap(spark, a) == _snap(spark, b)
    assert all(e != "k0031" for (e, *_r) in _snap(spark, a))


def _live_files(lake):
    m = M._read_manifest(lake)
    return sorted(
        os.path.join(lake, rel, f)
        for rel in m["buckets"].values()
        for f in os.listdir(os.path.join(lake, rel))
        if f.endswith(".parquet")
    )


def test_append_onto_int96_timestamp_lake_keeps_timestamp(spark, tmp_path):
    """A library-session lake stores ``last_ts`` as INT96
    ``timestamp``; a ``df.write`` append must rewrite its touched
    buckets at ``timestamp`` too (never flip them to NTZ) and stay the
    library merge's twin."""
    from pyspark.sql.types import TimestampType

    register_lake_batch(spark)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")

    def ltz(df):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))

    for lk in (a, b):
        M.merge_batch_into_lake(
            ltz(_env(spark, 120)), lk, n_buckets=8, retain_versions=4
        )
    nxt = ltz(_env(spark, 30, start=240, seq_shift=50))
    _write(nxt, a, retainVersions="4")
    M.merge_batch_into_lake(nxt, b, n_buckets=None, retain_versions=4)
    for f in _live_files(a):
        assert spark.read.parquet(f).schema["last_ts"].dataType == TimestampType(), f
    snap_a, snap_b = M.read_lake_snapshot(spark, a), M.read_lake_snapshot(spark, b)
    assert snap_a.schema == snap_b.schema
    assert _snap(spark, a) == _snap(spark, b)


def test_timestamp_ntz_extra_is_recorded_as_ntz(spark, tmp_path):
    """A ``timestamp_ntz`` extra column written through ``df.write``
    is declared ``timestamp_ntz`` in the manifest, like the library
    merge declares it, and reads as the same wall clock under a
    non-UTC session."""
    register_lake_batch(spark)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    env = _env(spark, 60).withColumn("seen_at", F.col("ts"))
    _write(env, a)
    M.merge_batch_into_lake(env, b, n_buckets=8, extra_cols=("seen_at",))
    for lk in (a, b):
        assert M._read_manifest(lk)["columns"] == [
            {"name": "seen_at", "type": "timestamp_ntz"}
        ], lk
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        got = [
            sorted(
                map(
                    tuple,
                    M.read_lake_snapshot(spark, lk)
                    .select("entity_id", F.col("seen_at").cast("string"))
                    .collect(),
                )
            )
            for lk in (a, b)
        ]
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert got[0] == got[1]


def test_validation_postures(spark, tmp_path):
    register_lake_batch(spark)
    lake = str(tmp_path / "lake")
    env = _env(spark, 10)
    with pytest.raises(Exception, match="path"):
        env.write.format("lake").mode("append").save()
    with pytest.raises(Exception, match="missing \\['pk'\\]"):
        _write(env.drop("pk"), lake)
    with pytest.raises(Exception, match="txnAppId AND txnVersion"):
        _write(env, lake, txnAppId="app")
    with pytest.raises(Exception, match="retainVersions"):
        _write(env, lake, retainVersions="0")
    with pytest.raises(Exception, match="non-null"):
        _write(
            env.withColumn(
                "pk", F.when(F.col("event_seq") < 5, F.col("pk"))
            ),
            lake,
        )
    _write(env, lake)  # pins n_buckets=8
    with pytest.raises(Exception, match="n_buckets"):
        _write(_env(spark, 5, start=50), lake, nBuckets="4")
    # extra col colliding with a writer-internal name
    with pytest.raises(Exception, match="collides"):
        _write(env.withColumn("pb", F.lit(1)), lake)


def test_empty_batch_is_a_no_op(spark, tmp_path):
    register_lake_batch(spark)
    lake = str(tmp_path / "lake")
    _write(_env(spark, 10), lake)
    _write(_env(spark, 10).filter(F.lit(False)), lake)
    assert M._read_manifest(lake)["version"] == 1
    # and no staging garbage is left behind
    assert glob.glob(os.path.join(lake, "_staging", "*")) == []


def test_layout_race_refuses(spark, tmp_path):
    """A writer planned against one bucket layout must refuse to
    commit rows staged under it after a concurrent layout change
    (the staged bucket ids are meaningless in the new layout)."""
    from lapidus_spark.sources.lake_write import LakeBatchWriter

    lake = str(tmp_path / "lake")
    _write_df = _env(spark, 10)
    M.merge_batch_into_lake(_write_df, lake, n_buckets=8, retain_versions=6)
    register_lake_batch(spark)
    w = LakeBatchWriter({"path": lake}, _write_df.schema, False)
    assert w.plan_n_buckets == 8
    M.rebucket_lake(spark, lake, 4, retain_versions=6)
    # stage one batch by hand, then commit: the layout moved
    import pyarrow as pa

    rb = pa.RecordBatch.from_pylist(
        [
            {
                "pk": "k0001",
                "event_seq": 99,
                "ts": None,
                "type": "update",
                "item": "x",
            }
        ],
        schema=pa.schema(
            [
                ("pk", pa.string()),
                ("event_seq", pa.int64()),
                ("ts", pa.timestamp("us")),
                ("type", pa.string()),
                ("item", pa.string()),
            ]
        ),
    )
    msg = w.write(iter([rb]))
    with pytest.raises(ValueError, match="layout changed"):
        w.commit([msg])
    # staging cleaned up on the failure path too
    assert glob.glob(os.path.join(lake, "_staging", "*")) == []


def test_adopts_nondefault_pinned_layout(spark, tmp_path):
    """A writer without an nBuckets option must ADOPT the table's
    pinned layout even when it differs from the default — the slim
    format-2 pointer carries no n_buckets, so the plan must resolve
    it through the manifest (regression: the first cut read the
    pointer and silently fell back to the default, refusing every
    write into a non-default-layout table)."""
    register_lake_batch(spark)
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(_env(spark, 30), lake, n_buckets=4, retain_versions=4)
    _write(_env(spark, 30, seq_shift=1000), lake, retainVersions="4")
    m = M._read_manifest(lake)
    assert m["version"] == 2 and m["n_buckets"] == 4
    got = {r["entity_id"]: r["last_seq"] for r in
           M.read_lake_snapshot(spark, lake).collect()}
    assert got["k0000"] == 1000


def test_stream_writer_exactly_once_and_twin_parity(spark, tmp_path):
    """df.writeStream.format('lake') (round 13): every micro-batch
    merges through the batch writer's machinery; with txnAppId each
    batch commits under (appId, batchId), so a checkpoint-resumed
    replay of the last epoch is SKIPPED — exactly-once through the
    SQL surface. Result ≡ merging the same batches via the library."""
    import glob as _glob
    import os as _os

    register_lake_batch(spark)
    lake, lib = str(tmp_path / "lake"), str(tmp_path / "lib")
    src_dir = str(tmp_path / "src")
    _os.makedirs(src_dir)
    # three arrival files = three micro-batches (maxFilesPerTrigger=1)
    batches = [
        _env(spark, 40, start=i * 200, seq_shift=i * 1000) for i in range(3)
    ]
    for i, b in enumerate(batches):
        b.coalesce(1).write.mode("overwrite").parquet(f"{src_dir}/b{i}")
        _os.utime(
            _glob.glob(f"{src_dir}/b{i}/*.parquet")[0], (1_700_000_000 + i, 1_700_000_000 + i)
        )
    stream = (
        spark.readStream.schema(batches[0].schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src_dir}/b*")
    )
    q = (
        stream.writeStream.format("lake")
        .option("path", lake)
        .option("retainVersions", "6")
        .option("txnAppId", "stream_writer_test")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    m = M._read_manifest(lake)
    assert m["version"] == 3  # one commit per micro-batch
    assert m["txns"]["stream_writer_test"] == 2  # batchIds 0, 1, 2
    for b in batches:
        M.merge_batch_into_lake(b, lib, n_buckets=8, retain_versions=6)
    assert _snap(spark, lake) == _snap(spark, lib)
    # restart the drained stream: no new data, no new commits, and a
    # REPLAYED epoch would be marker-skipped (version must stay 3)
    q2 = (
        stream.writeStream.format("lake")
        .option("path", lake)
        .option("retainVersions", "6")
        .option("txnAppId", "stream_writer_test")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    assert M._read_manifest(lake)["version"] == 3
    # txnVersion is refused on the streaming path
    import pytest as _pytest

    with _pytest.raises(Exception, match="derived from"):
        (
            stream.writeStream.format("lake")
            .option("path", str(tmp_path / "other"))
            .option("txnAppId", "x")
            .option("txnVersion", "1")
            .option("checkpointLocation", str(tmp_path / "ck2"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )


def test_vacuum_sweeps_stale_staging(spark, tmp_path):
    """A crashed df.write leaves _staging/<uuid> behind; vacuum_lake
    reclaims entries older than the grace window and spares fresh
    ones (a live write's staged files are younger by construction)."""
    import time

    register_lake_batch(spark)
    lake = str(tmp_path / "lake")
    _write(_env(spark, 10), lake)
    stale = os.path.join(lake, "_staging", "deadbeef")
    fresh = os.path.join(lake, "_staging", "cafef00d")
    os.makedirs(stale); os.makedirs(fresh)
    for d in (stale, fresh):
        with open(os.path.join(d, "part-x.parquet"), "wb") as fh:
            fh.write(b"x")
    old = time.time() - 7200
    os.utime(os.path.join(stale, "part-x.parquet"), (old, old))
    os.utime(stale, (old, old))
    rep = M.vacuum_lake(lake, retain_versions=1, grace_seconds=3600)
    assert rep["stale_staging_dirs"] == 1
    assert not os.path.isdir(stale) and os.path.isdir(fresh)


def test_constraints_check_batch_winners_only(spark, tmp_path):
    """Enforcement point parity: merge._validated_touched validates
    the batch SNAPSHOT (within-batch LWW winners), so an event that
    violates a CHECK but LOSES the in-batch LWW must not refuse the
    commit — on either path."""
    register_lake_batch(spark)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    base = _env(spark, 30)
    _write(base, a, retainVersions="6")
    M.merge_batch_into_lake(base, b, n_buckets=8, retain_versions=6)
    for lk in (a, b):
        M.add_constraint(spark, lk, "seq_cap", "last_seq < 5000", retain_versions=6)
    # k0001 gets a violating event (seq 9000) AND a newer valid winner
    loser = _env(spark, 1, start=1, seq_shift=8999)   # seq 9000: violates
    winner = _env(spark, 1, start=1, seq_shift=3000)  # seq 3001: wins on ts? no —
    # LWW is by (ts, seq): make the VALID event the winner by stamping later
    from pyspark.sql import functions as F2

    winner = winner.withColumn("ts", F2.col("ts") + F2.expr("INTERVAL 1000 DAYS"))
    batch = loser.unionByName(winner)
    _write(batch, a, retainVersions="6")
    M.merge_batch_into_lake(batch, b, n_buckets=None, retain_versions=6)
    assert _snap(spark, a) == _snap(spark, b)
    seqs = {e: s for (e, s, *_r) in _snap(spark, a)}
    assert seqs["k0001"] == 3001  # the valid winner landed on both paths
