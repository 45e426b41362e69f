"""General-predicate MERGE (``merge_into_lake``) — the Delta-shaped
``WHEN MATCHED [AND cond] THEN UPDATE SET <partial> / DELETE``,
``WHEN NOT MATCHED [AND cond] THEN INSERT`` and ``WHEN NOT MATCHED BY
SOURCE`` surface compiled onto the envelope LWW combine (VERDICT r10
#1). The oracle gate (``lake_merge_predicates``) proves end-state
values; this file pins the contract edges: clause order and
first-match-wins, partial-update column preservation, tombstone
deletes visible to CDF with pre-images, INSERT * vs explicit values,
constraint interplay (a conditional update violating a CHECK refuses
the WHOLE commit), schema evolution via a SET on a new extra column,
txn-marker idempotency, duplicate-source-key refusal, stale-stamp
LWW yield, clause validation, and empty-lake bootstrap.

Reference parity: the reference applies arbitrary per-event consumer
logic through row callbacks (``src/postgresql.js:503-537``); here that
logic is declared as SQL clauses so it stays JVM-side and
bucket-pruned.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import lapidus_spark.streaming.materialize as M

STAMP_TS = "2024-06-01 00:00:00"


def _env(spark, ids, seq_base=0, extra=None):
    cols = [
        F.format_string("k%04d", F.col("id")).alias("pk"),
        (F.col("id") + seq_base).alias("event_seq"),
        F.timestamp_seconds(F.col("id") * 60 + 1_700_000_000 + seq_base)
        .cast("timestamp_ntz")
        .alias("ts"),
        F.lit("insert").alias("type"),
        F.format_string(f"v{seq_base}-%04d", F.col("id")).alias("item"),
    ]
    if extra is not None:
        cols.append(extra)
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    return df.select(*cols)


def _source(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def _visible(spark, lake):
    return {
        r["entity_id"]: r
        for r in M.read_lake_snapshot(spark, lake).collect()
    }


def _build(spark, lake, n=10, retain=4):
    M.merge_batch_into_lake(
        _env(spark, range(n), extra=(F.col("id") % 5).cast("int").alias("qty")),
        lake,
        n_buckets=4,
        retain_versions=retain,
        extra_cols=("qty",),
    )


def test_conditional_update_delete_insert_first_match_wins(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _build(spark, lake)
    # qty at build time: id % 5 → k0000:0 k0001:1 k0002:2 k0003:3 k0004:4 ...
    src = _source(
        spark,
        [
            ("k0001", "patched", 50),  # matched, qty 1 → first clause (qty<3): partial update
            ("k0003", "patched", 60),  # matched, qty 3 → second clause: delete
            ("k0099", "brandnew", 70),  # not matched → insert
            ("k0098", "skipme", -1),    # not matched, cond fails → no-op
        ],
        "pk string, item string, qty int",
    )
    res = M.merge_into_lake(
        src,
        lake,
        stamp_seq=10_000,
        stamp_ts=STAMP_TS,
        when_matched=(
            {"condition": "target.qty < 3", "update": {"item": "source.item"}},
            {"delete": True},
        ),
        when_not_matched=(
            {"condition": "source.qty > 0", "insert": None},
        ),
        retain_versions=4,
    )
    assert res["updated"] == 1 and res["deleted"] == 1 and res["inserted"] == 1
    vis = _visible(spark, lake)
    # partial update: item changed, UNASSIGNED qty kept the target value
    assert vis["k0001"]["item"] == "patched"
    assert vis["k0001"]["qty"] == 1
    # first-match-wins: k0001 hit the update clause, never the delete
    assert "k0003" not in vis  # second clause deleted it
    assert vis["k0099"]["item"] == "brandnew" and vis["k0099"]["qty"] == 70
    assert "k0098" not in vis  # failed insert condition → ignored
    # untouched rows unchanged
    assert vis["k0002"]["item"] == "v0-0002" and vis["k0002"]["qty"] == 2


def test_delete_is_a_tombstone_with_cdf_preimage(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _build(spark, lake)
    v0 = M._read_manifest(lake)["version"]
    res = M.merge_into_lake(
        _source(spark, [("k0004", 0)], "pk string, qty int"),
        lake,
        stamp_seq=10_000,
        stamp_ts=STAMP_TS,
        when_matched=({"condition": "target.qty >= 4", "delete": True},),
        retain_versions=4,
    )
    assert res == {"version": v0 + 1, "updated": 0, "deleted": 1, "inserted": 0}
    ch = M.lake_changes_rows(spark, lake, from_version=v0, to_version=v0 + 1)
    rows = {(r["entity_id"], r["change_type"]): r for r in ch.collect()}
    # a MERGE delete is an ordinary tombstone: CDF emits the REMOVED
    # content (the pre-image values), exactly like an envelope delete
    gone = rows[("k0004", "delete")]
    assert gone["item"] == "v0-0004"
    assert len(rows) == 1  # nothing else changed in the step


def test_insert_star_vs_explicit_values(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _build(spark, lake, n=2)
    M.merge_into_lake(
        _source(spark, [("k0100", "star", 9), ("k0101", "explicit", 9)],
                "pk string, item string, qty int"),
        lake,
        stamp_seq=10_000,
        stamp_ts=STAMP_TS,
        when_not_matched=(
            {"condition": "source.pk = 'k0101'",
             "insert": {"item": "upper(source.item)"}},
            {"insert": None},
        ),
        retain_versions=4,
    )
    vis = _visible(spark, lake)
    assert vis["k0100"]["item"] == "star" and vis["k0100"]["qty"] == 9
    # explicit values: only assigned columns take values, rest NULL
    assert vis["k0101"]["item"] == "EXPLICIT" and vis["k0101"]["qty"] is None


def test_not_matched_by_source_clauses(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _build(spark, lake, n=6)
    # source mentions only k0000/k0001: by-source rows are k0002..k0005
    res = M.merge_into_lake(
        _source(spark, [("k0000", "keep"), ("k0001", "keep")],
                "pk string, item string"),
        lake,
        stamp_seq=10_000,
        stamp_ts=STAMP_TS,
        when_matched=({"update": {"item": "source.item"}},),
        when_not_matched_by_source=(
            {"condition": "target.qty >= 4", "delete": True},
            {"update": {"item": "'stale'"}},
        ),
        retain_versions=4,
    )
    assert res["deleted"] == 1  # k0004 (qty 4)
    assert res["updated"] == 2 + 3  # two matched + three by-source marks
    vis = _visible(spark, lake)
    assert "k0004" not in vis
    assert vis["k0000"]["item"] == "keep"
    assert {vis[k]["item"] for k in ("k0002", "k0003", "k0005")} == {"stale"}
    # by-source update keeps unassigned columns
    assert vis["k0002"]["qty"] == 2


def test_constraint_violation_refuses_whole_commit(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _build(spark, lake)
    M.add_constraint(spark, lake, "qty_pos", "qty >= 0")
    v0 = M._read_manifest(lake)["version"]
    with pytest.raises(M.ConstraintViolationError, match="qty_pos"):
        M.merge_into_lake(
            _source(spark, [("k0001", -5), ("k0002", 7)], "pk string, qty int"),
            lake,
            stamp_seq=10_000,
            stamp_ts=STAMP_TS,
            when_matched=({"update": {"qty": "source.qty"}},),
            retain_versions=4,
        )
    assert M._read_manifest(lake)["version"] == v0  # table unchanged
    assert _visible(spark, lake)["k0002"]["qty"] == 2


@pytest.mark.parametrize("constrained", [False, True])
def test_all_clauses_miss_commits_nothing(spark, tmp_path, constrained):
    """No clause fires on any source row: the envelope is empty, its
    touched set is empty, and the merge commits nothing — zero counts,
    the version unchanged, no new commit dir — on a constrained lake
    (touched set from the CHECK validation job) and an unconstrained
    one (touched set from the observed raw-batch scan)."""
    lake = str(tmp_path / "lake")
    _build(spark, lake)
    if constrained:
        M.add_constraint(spark, lake, "qty_pos", "qty >= 0")
    v0 = M._read_manifest(lake)["version"]
    commits = set(os.listdir(os.path.join(lake, "commits")))
    out = M.merge_into_lake(
        _source(
            spark,
            [("k0001", "x", 1), ("k0999", "y", 2)],  # one matched, one not
            "pk string, item string, qty int",
        ),
        lake,
        stamp_seq=10_000,
        stamp_ts=STAMP_TS,
        when_matched=(
            {"condition": "source.qty > 100", "update": {"item": "source.item"}},
        ),
        when_not_matched=(
            {"condition": "source.qty > 100", "insert": {"qty": "source.qty"}},
        ),
        retain_versions=4,
    )
    assert out == {"version": v0, "updated": 0, "deleted": 0, "inserted": 0}
    assert M._read_manifest(lake)["version"] == v0
    assert set(os.listdir(os.path.join(lake, "commits"))) == commits


def test_set_on_new_extra_column_evolves_schema(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _build(spark, lake, n=4)
    M.merge_into_lake(
        _source(spark, [("k0001", "eu")], "pk string, region string"),
        lake,
        stamp_seq=10_000,
        stamp_ts=STAMP_TS,
        when_matched=({"update": {"region": "source.region"}},),
        extra_cols=("region",),
        retain_versions=4,
    )
    cols = {c["name"]: c["type"] for c in M._manifest_at(lake, None)["columns"]}
    assert cols["region"] == "string"
    vis = _visible(spark, lake)
    assert vis["k0001"]["region"] == "eu" and vis["k0001"]["qty"] == 1
    assert vis["k0002"]["region"] is None  # old rows null-fill


def test_txn_marker_makes_replay_free(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _build(spark, lake, n=4)
    kw = dict(
        stamp_seq=10_000,
        stamp_ts=STAMP_TS,
        when_matched=({"update": {"item": "'x'"}},),
        retain_versions=4,
        txn=("merger", 7),
    )
    src = _source(spark, [("k0001",)], "pk string")
    r1 = M.merge_into_lake(src, lake, **kw)
    assert r1["updated"] == 1
    r2 = M.merge_into_lake(src, lake, **kw)
    assert r2 == {"version": r1["version"], "updated": 0, "deleted": 0, "inserted": 0}


def test_duplicate_source_keys_raise(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _build(spark, lake, n=2)
    with pytest.raises(ValueError, match="duplicate key"):
        M.merge_into_lake(
            _source(spark, [("k0001", 1), ("k0001", 2)], "pk string, qty int"),
            lake,
            stamp_seq=10_000,
            stamp_ts=STAMP_TS,
            when_matched=({"update": {"qty": "source.qty"}},),
        )


def test_stale_stamp_yields_to_stored_row(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _build(spark, lake, n=2)
    res = M.merge_into_lake(
        _source(spark, [("k0001",)], "pk string"),
        lake,
        stamp_seq=-1,
        stamp_ts="1990-01-01 00:00:00",  # predates every stored row
        when_matched=({"update": {"item": "'loser'"}},),
        retain_versions=4,
    )
    assert res["updated"] == 1  # the clause fired...
    assert _visible(spark, lake)["k0001"]["item"] == "v0-0001"  # ...and lost LWW


def test_empty_lake_bootstrap_insert_only(spark, tmp_path):
    lake = str(tmp_path / "lake")
    res = M.merge_into_lake(
        _source(spark, [("a", "one"), ("b", "two")], "pk string, item string"),
        lake,
        stamp_seq=1,
        stamp_ts=STAMP_TS,
        when_matched=({"update": {"item": "source.item"}},),
        when_not_matched=({"insert": None},),
    )
    assert res["inserted"] == 2 and res["updated"] == 0
    assert set(_visible(spark, lake)) == {"a", "b"}


def test_clause_validation(spark, tmp_path):
    lake = str(tmp_path / "lake")
    src = _source(spark, [("a",)], "pk string")
    with pytest.raises(ValueError, match="at least one clause"):
        M.merge_into_lake(src, lake, stamp_seq=1, stamp_ts=STAMP_TS)
    with pytest.raises(ValueError, match="exactly one of"):
        M.merge_into_lake(
            src, lake, stamp_seq=1, stamp_ts=STAMP_TS,
            when_matched=({"update": {"item": "'x'"}, "delete": True},),
        )
    with pytest.raises(ValueError, match="unreachable"):
        M.merge_into_lake(
            src, lake, stamp_seq=1, stamp_ts=STAMP_TS,
            when_matched=({"delete": True}, {"condition": "1=1", "delete": True}),
        )
    with pytest.raises(ValueError, match="cannot assign"):
        M.merge_into_lake(
            src, lake, stamp_seq=1, stamp_ts=STAMP_TS,
            when_matched=({"update": {"entity_id": "'x'"}},),
        )
    with pytest.raises(ValueError, match="pk"):
        M.merge_into_lake(
            _source(spark, [("a",)], "id string"), lake,
            stamp_seq=1, stamp_ts=STAMP_TS, when_matched=({"delete": True},),
        )
    with pytest.raises(ValueError, match="stamp_ts"):
        M.merge_into_lake(
            src, lake, stamp_seq=1, stamp_ts=None,
            when_matched=({"delete": True},),
        )


def test_dv_deleted_rows_are_not_matched(spark, tmp_path):
    """Deletion-vector interplay: pass 1 reads through the DV mask,
    so a DV-redacted entity is NOT MATCHED (its row reads as a
    tombstone) — a conditional insert may resurrect it, exactly like
    the ordinary-read semantics."""
    lake = str(tmp_path / "lake")
    _build(spark, lake)
    M.delete_from_lake(spark, lake, "entity_id = 'k0002'", mode="dv",
                       retain_versions=4)
    assert "k0002" not in _visible(spark, lake)
    res = M.merge_into_lake(
        _source(spark, [("k0002", "back"), ("k0003", "upd")],
                "pk string, item string"),
        lake,
        stamp_seq=10_000,
        stamp_ts=STAMP_TS,
        when_matched=({"update": {"item": "source.item"}},),
        when_not_matched=({"insert": None},),
        retain_versions=4,
    )
    # k0002 went through the INSERT clause (not matched), k0003 UPDATE
    assert res["inserted"] == 1 and res["updated"] == 1
    vis = _visible(spark, lake)
    assert vis["k0002"]["item"] == "back"
    assert vis["k0003"]["item"] == "upd" and vis["k0003"]["qty"] == 3


def _src_env(spark, ids, seq_base=0):
    """source rows with their own (event_seq, ts) stamps."""
    return spark.createDataFrame([(i,) for i in ids], "id long").select(
        F.format_string("k%04d", F.col("id") % 6).alias("pk"),
        (F.col("id") + seq_base).alias("event_seq"),
        F.timestamp_seconds(F.col("id") * 60 + 1_700_000_000 + seq_base)
        .cast("timestamp_ntz")
        .alias("ts"),
        F.format_string(f"s{seq_base}-%04d", F.col("id")).alias("item"),
    )


def test_stamp_cols_makes_batches_order_independent(spark, tmp_path):
    """Source-derived stamps (the streaming mode): applying the same
    two batches in either order converges to the same LWW state —
    every row resolves by its own event stamp, never by merge time."""
    upsert = dict(
        when_matched=({"update": {"item": "source.item"}},),
        when_not_matched=({"insert": None},),
        stamp_cols=("event_seq", "ts"),
        retain_versions=2,
    )
    b1, b2 = _src_env(spark, range(6)), _src_env(spark, range(6), seq_base=500)
    lakes = []
    for order in ((b1, b2), (b2, b1)):
        lake = str(tmp_path / f"lake{len(lakes)}")
        for b in order:
            M.merge_into_lake(b, lake, **upsert)
        lakes.append(
            sorted(
                map(
                    tuple,
                    M.read_lake_snapshot(spark, lake)
                    .select("entity_id", "last_seq", "last_ts", "item")
                    .collect(),
                )
            )
        )
    assert lakes[0] == lakes[1]
    # winners are the seq_base=500 rows (higher ts)
    assert all(r[3].startswith("s500-") for r in lakes[0])


def test_stamp_cols_validation(spark, tmp_path):
    lake = str(tmp_path / "lake")
    src = _src_env(spark, range(3))
    with pytest.raises(ValueError, match="not both"):
        M.merge_into_lake(
            src, lake, stamp_seq=1, stamp_ts=STAMP_TS,
            stamp_cols=("event_seq", "ts"),
            when_matched=({"delete": True},),
        )
    with pytest.raises(ValueError, match="scalar stamps"):
        M.merge_into_lake(
            src, lake, stamp_cols=("event_seq", "ts"),
            when_matched=({"delete": True},),
            when_not_matched_by_source=({"delete": True},),
        )
    with pytest.raises(ValueError, match="stamp_cols must name"):
        M.merge_into_lake(
            src, lake, stamp_cols=("nope", "ts"),
            when_matched=({"delete": True},),
        )
    with pytest.raises(ValueError, match="or stamp_cols"):
        M.merge_into_lake(src, lake, when_matched=({"delete": True},))


def test_predicate_merge_sink_streams_clauses(spark, tmp_path):
    """The streaming twin end-to-end: a two-file replay driven through
    predicate_merge_sink with CDC upsert clauses — the final snapshot
    equals the one-shot batch merge of the union (batch-boundary
    independence), and a checkpointed restart redelivers for free
    (txn markers: no new version)."""
    import os
    import time

    replay = str(tmp_path / "replay")
    for i, b in enumerate((_src_env(spark, range(6)),
                           _src_env(spark, range(6), seq_base=500))):
        sub = os.path.join(replay, f"b={i}")
        b.repartition(1).write.mode("overwrite").parquet(sub)
        now = time.time()
        for fn in os.listdir(sub):
            os.utime(os.path.join(sub, fn), (now + i * 10, now + i * 10))
    lake = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema(_src_env(spark, range(1)).schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(replay)
    )
    clauses = dict(
        when_matched=(
            {"condition": "source.event_seq % 2 = 0",
             "update": {"item": "upper(source.item)"}},
            {"update": {"item": "source.item"}},
        ),
        when_not_matched=(
            {"condition": "source.event_seq % 2 = 0",
             "insert": {"item": "upper(source.item)"}},
            {"insert": {"item": "source.item"}},
        ),
    )

    def run():
        q = (
            M.predicate_merge_sink(
                stream, lake, retain_versions=2, txn_app_id="pms", **clauses
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    vis = _visible(spark, lake)
    assert set(vis) == {f"k{i:04d}" for i in range(6)}
    # winners: seq_base=500 rows; ids 500..505 → even event_seq gets
    # the uppercased item through whichever clause routed it
    for i in range(6):
        r = vis[f"k{i:04d}"]
        want = f"s500-{i:04d}".upper() if (500 + i) % 2 == 0 else f"s500-{i:04d}"
        assert r["item"] == want, (i, r["item"])
    v_after = M._read_manifest(lake)["version"]
    # restart with the same checkpoint: nothing new → no version moves
    run()
    assert M._read_manifest(lake)["version"] == v_after


def test_predicate_merge_sink_dedupes_within_a_batch(spark, tmp_path):
    """Duplicate keys inside one micro-batch keep the stamp-maximal
    row (merge_into_lake refuses duplicates; the losers would have
    lost the LWW combine anyway)."""
    lake = str(tmp_path / "lake")
    # ids 0..11 over 6 keys: two rows per key, the higher id wins
    batch = _src_env(spark, range(12))
    batch.repartition(1).write.mode("overwrite").parquet(str(tmp_path / "in"))
    q = M.predicate_merge_sink(
        spark.readStream.schema(batch.schema).parquet(str(tmp_path / "in")),
        lake,
        when_matched=({"update": {"item": "source.item"}},),
        when_not_matched=({"insert": None},),
        retain_versions=2,
    )
    sq = q.option("checkpointLocation", str(tmp_path / "ck")).trigger(
        availableNow=True
    ).start()
    sq.awaitTermination()
    vis = _visible(spark, lake)
    assert {r["last_seq"] for r in vis.values()} == set(range(6, 12))


def test_stamp_cols_rejects_null_stamps(spark, tmp_path):
    """The per-row analog of the scalar stamp validation (the r10
    advice defect class): a NULL-stamped source row would silently
    lose every LWW combine — refused up front, table untouched."""
    lake = str(tmp_path / "lake")
    _build(spark, lake, n=3)
    src = spark.createDataFrame(
        [("k0001", 99, None, "x")],
        "pk string, event_seq bigint, ts timestamp_ntz, item string",
    )
    with pytest.raises(ValueError, match="NULL stamp"):
        M.merge_into_lake(
            src, lake, stamp_cols=("event_seq", "ts"),
            when_matched=({"update": {"item": "source.item"}},),
            retain_versions=4,
        )
    assert _visible(spark, lake)["k0001"]["item"] == "v0-0001"


def test_pruned_empty_merge_inherits_epoch_ts_type(spark, tmp_path):
    """A NON-empty lake whose pruned bucket read comes back empty
    (every source key hashes to a never-written bucket) must stamp at
    the TABLE's physical timestamp type, not the NTZ default: an
    LTZ-epoch lake receiving an insert-only NTZ-stamped commit would
    otherwise mix physical timestamp types across commit dirs, which
    the explicit-schema union read cannot reconcile."""
    from datetime import datetime

    lake = str(tmp_path / "lake")
    # LTZ-epoch lake: ONE entity, so most buckets stay unwritten
    base = spark.range(1).select(
        F.lit("seed").alias("pk"),
        F.lit(1).cast("bigint").alias("event_seq"),
        F.timestamp_seconds(F.lit(1_700_000_000)).alias("ts"),  # LTZ
        F.lit("insert").alias("type"),
        F.lit("v-seed").alias("item"),
    )
    M.merge_batch_into_lake(base, lake, n_buckets=4, retain_versions=4)
    m = M._read_manifest(lake)
    written = {int(b) for b in m["buckets"]}
    assert len(written) == 1
    cand = (
        spark.range(64)
        .select(
            F.format_string("p%03d", F.col("id")).alias("pk"),
            F.pmod(F.xxhash64(F.format_string("p%03d", F.col("id"))), F.lit(4))
            .cast("int")
            .alias("b"),
        )
        .collect()
    )
    pk = next(r["pk"] for r in cand if r["b"] not in written)
    src = spark.createDataFrame([(pk, "v-new")], "pk string, item string")
    res = M.merge_into_lake(
        src,
        lake,
        stamp_seq=2,
        stamp_ts=datetime(2024, 6, 1),
        when_not_matched=({"insert": None},),
        retain_versions=4,
    )
    assert res["inserted"] == 1
    m2 = M._read_manifest(lake)
    # every commit dir's physical last_ts type matches the epoch (LTZ)
    types = set()
    for b, rel in m2["buckets"].items():
        import os

        sch = spark.read.parquet(os.path.join(lake, rel)).schema
        types.add(sch["last_ts"].dataType.simpleString())
    assert types == {"timestamp"}, types
    # and the full-table snapshot unions cleanly with exact values
    vis = _visible(spark, lake)
    assert vis[pk]["item"] == "v-new"
    assert vis["seed"]["item"] == "v-seed"


def test_update_set_star_sugar(spark, tmp_path):
    """UPDATE SET * / INSERT * — the CDC upsert without enumerating
    columns: every writable column takes the source's same-named
    column; for UPDATE SET * a column the source does NOT carry keeps
    the stored value (the partial-update rule per column; pinned
    deviation from Delta's absent-column error)."""
    lake = str(tmp_path / "lake")
    _build(spark, lake, n=4)  # k0000..k0003, qty = id % 5, item = v0-XXXX
    src = spark.createDataFrame(
        [("k0001", "starred"), ("k0099", "fresh")],
        "pk string, item string",  # note: NO qty column
    )
    res = M.merge_into_lake(
        src,
        lake,
        stamp_seq=10_000,
        stamp_ts="2024-06-01 00:00:00",
        when_matched=({"update": None},),
        when_not_matched=({"insert": None},),
        retain_versions=4,
    )
    assert res == {"version": 2, "updated": 1, "deleted": 0, "inserted": 1}
    vis = _visible(spark, lake)
    assert vis["k0001"]["item"] == "starred"
    assert vis["k0001"]["qty"] == 1  # absent in source → stored value kept
    assert vis["k0099"]["item"] == "fresh"
    assert vis["k0099"]["qty"] is None  # INSERT *: absent → NULL
    assert vis["k0000"]["item"] == "v0-0000"  # untouched row intact
    # source columns beyond the writable set still refuse loudly via
    # the ordinary path (star reads by NAME, never positionally)
    src2 = spark.createDataFrame(
        [("k0002", "x", 9)], "pk string, item string, qty int"
    )
    res2 = M.merge_into_lake(
        src2, lake, stamp_seq=10_001, stamp_ts="2024-06-01 00:00:01",
        when_matched=({"update": None},), retain_versions=4,
    )
    assert res2["updated"] == 1
    vis2 = _visible(spark, lake)
    assert vis2["k0002"]["item"] == "x" and vis2["k0002"]["qty"] == 9


def test_update_set_star_refused_for_by_source(spark, tmp_path):
    lake = str(tmp_path / "lake")
    _build(spark, lake, n=3)
    src = spark.createDataFrame([("k0001", "v")], "pk string, item string")
    with pytest.raises(ValueError, match="source row to read from"):
        M.merge_into_lake(
            src, lake, stamp_seq=10_000, stamp_ts="2024-06-01 00:00:00",
            when_matched=({"update": {"item": "source.item"}},),
            when_not_matched_by_source=({"update": None},),
            retain_versions=4,
        )
