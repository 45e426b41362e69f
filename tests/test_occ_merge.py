"""Optimistic multi-writer concurrency for the lake MERGE
(``merge_batch_optimistic``): stage unlocked, lock only the manifest
flip, rebase onto intervening commits when the per-bucket
``data_versions`` stamps prove this merge's buckets' content
unchanged, recompute on a true conflict. Models Delta's optimistic
commit protocol on the manifest lake; the reference's analog is one
worker per backend (src/lapidus.js:88-109) — this is the rung above
it for two daemons sharing a lake.

Deterministic interleaves are injected through ``_race_hook`` (runs
between staging and flip — exactly the window where another writer
can commit); the true-parallelism test races two subprocesses with no
scheduling control at all.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from lapidus_spark.sources.cdc import normalize_events
from lapidus_spark.sources.tables import load_table
from tests.conftest import SF_DIR

COLS = ["entity_id", "last_seq", "last_ts", "last_type", "item"]


def _env(spark):
    return normalize_events(load_table(spark, SF_DIR, "events"))


def _rows(spark, lake):
    from lapidus_spark.streaming.materialize import read_lake_snapshot

    return sorted(map(tuple, read_lake_snapshot(spark, lake).select(*COLS).collect()))


def _oneshot(spark, tmp_path, name="oneshot"):
    """The serial oracle: one locked merge of the full history."""
    from lapidus_spark.streaming.materialize import merge_batch_into_lake

    lake = str(tmp_path / name)
    merge_batch_into_lake(_env(spark), lake)
    return _rows(spark, lake)


@pytest.mark.parametrize("case", ["plain", "constraint", "evolve", "txn"])
def test_occ_uncontended_equals_locked(spark, tmp_path, case):
    """With no concurrent writer, the optimistic merge commits on its
    first attempt and matches the locked path step for step —
    versions, snapshot, manifest ``columns`` and ``txns`` — because
    both stage through the same pipeline. Cases: a plain lake; a
    lake with a CHECK constraint (validated, and a violating batch
    refused by both); a batch whose ``extra_cols`` evolve the schema;
    and ``txn=`` markers whose replay is skipped by both."""
    import lapidus_spark.streaming.materialize as M

    env = _env(spark)
    halves = [env.filter(F.col("event_seq") % 2 == i) for i in range(2)]
    steps = [(halves[0], {}), (halves[1], {})]
    if case == "evolve":
        qty = (F.col("event_seq") % 7).cast("int").alias("qty")
        steps[1] = (halves[1].select("*", qty), {"extra_cols": ("qty",)})
    elif case == "txn":
        steps = [
            (halves[0], {"txn": ("app", 1)}),
            (halves[1], {"txn": ("app", 2)}),
            (halves[1], {"txn": ("app", 2)}),  # replay: skipped
            (halves[0], {"txn": ("app", 1)}),  # older replay: skipped
        ]

    def run(lake, merge):
        versions = []
        for i, (batch, kw) in enumerate(steps):
            merge(batch, lake, **kw)
            if case == "constraint" and i == 0:
                M.add_constraint(spark, lake, "seq_pos", "last_seq >= 0")
                bad = (
                    env.filter(F.col("type") == "insert")
                    .orderBy("event_seq")
                    .limit(1)
                    .withColumn("event_seq", F.lit(-1).cast("bigint"))
                )
                v = M._read_manifest(lake)["version"]
                with pytest.raises(M.ConstraintViolationError, match="seq_pos"):
                    merge(bad, lake)
                assert M._read_manifest(lake)["version"] == v
            versions.append(M._read_manifest(lake)["version"])
        m = M._read_manifest(lake)
        snap = M.read_lake_snapshot(spark, lake)
        rows = sorted(map(tuple, snap.select(*sorted(snap.columns)).collect()))
        return versions, m.get("columns"), m.get("txns"), rows, m

    *locked, m_locked = run(str(tmp_path / "locked"), M.merge_batch_into_lake)
    *occ, m_occ = run(str(tmp_path / "occ"), M.merge_batch_optimistic)
    assert occ == locked
    if case == "plain":
        assert locked[0] == [1, 2]
        assert _rows(spark, str(tmp_path / "occ")) == _oneshot(spark, tmp_path)
    # only the commit dir names differ: the optimistic staging carries
    # the nonce suffix (collision-free), the locked one does not
    for m, nonce in ((m_occ, True), (m_locked, False)):
        for rel in m["buckets"].values():
            assert ("." in rel.split("/")[1]) == nonce


def test_occ_rebase_across_disjoint_commit(spark, tmp_path):
    """Another writer commits to DISJOINT buckets between our staging
    and our flip: the stamps prove our buckets untouched, so we flip
    WITHOUT recomputing (attempt 0), rebased onto the intervening
    version — and the final snapshot carries both writers' rows."""
    import lapidus_spark.streaming.materialize as M

    env = _env(spark)
    lake = str(tmp_path / "lake")
    # split by BUCKET so the two writers are provably disjoint
    bucketed = env.withColumn(
        "b", F.pmod(F.xxhash64(F.col("pk").cast("string")), F.lit(8)).cast("int")
    )
    mine = bucketed.filter(F.col("b") < 4).drop("b")
    theirs = bucketed.filter(F.col("b") >= 4).drop("b")
    M.merge_batch_into_lake(mine.filter(F.col("event_seq") % 2 == 0), lake)  # v1

    attempts = []

    def interloper(attempt):
        attempts.append(attempt)
        M.merge_batch_into_lake(theirs, lake, n_buckets=None)  # v2 lands mid-flight

    m = M.merge_batch_optimistic(
        mine.filter(F.col("event_seq") % 2 == 1), lake, _race_hook=interloper
    )
    assert attempts == [0]  # no recompute: the rebase happened on attempt 0
    assert m["version"] == 3
    assert _rows(spark, lake) == _oneshot(spark, tmp_path)


def test_occ_conflict_recomputes_and_converges(spark, tmp_path):
    """Another writer data-changes OUR buckets mid-flight: attempt 0
    must NOT flip (its staged merge is stale — flipping would lose
    the interloper's rows), the staging is dropped, and attempt 1
    recomputes against the interloper's manifest. Final snapshot =
    the serial oracle over all three batches."""
    import lapidus_spark.streaming.materialize as M

    env = _env(spark)
    lake = str(tmp_path / "lake")
    batches = [env.filter(F.col("event_seq") % 3 == i) for i in range(3)]
    M.merge_batch_into_lake(batches[0], lake)  # v1

    attempts = []

    def interloper(attempt):
        attempts.append(attempt)
        if attempt == 0:
            M.merge_batch_into_lake(batches[2], lake)  # same entities → same buckets

    m = M.merge_batch_optimistic(batches[1], lake, _race_hook=interloper)
    assert attempts == [0, 1]  # one recompute
    assert m["version"] == 3
    assert _rows(spark, lake) == _oneshot(spark, tmp_path)
    # the losing attempt's staging was cleaned up, not left as orphan
    noncey = [
        d for d in os.listdir(os.path.join(lake, "commits")) if "." in d
    ]
    live = {p.split("/")[1] for p in m["buckets"].values()}
    assert set(noncey) <= live


def test_occ_rebases_across_interleaved_compaction(spark, tmp_path):
    """An OPTIMIZE lands between staging and flip. Compaction moves
    every degraded bucket's pointer but is a pure physical rewrite —
    the data_versions stamps carry through unchanged — so the
    optimistic writer flips on attempt 0 (no recompute, the exact
    payoff of tracking dataChange at bucket granularity)."""
    import lapidus_spark.streaming.materialize as M

    env = _env(spark)
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(env.filter(F.col("event_seq") % 3 == 0), lake)  # v1
    M.merge_batch_into_lake(env.filter(F.col("event_seq") % 3 == 1), lake)  # v2

    attempts = []

    def compactor(attempt):
        attempts.append(attempt)
        res = M.compact_lake(spark, lake, target_files_per_bucket=0)
        assert res["compacted_buckets"] > 0  # it really rewrote our buckets

    m = M.merge_batch_optimistic(
        env.filter(F.col("event_seq") % 3 == 2), lake, _race_hook=compactor
    )
    assert attempts == [0]  # rebased straight across the compaction
    assert m["version"] == 4
    assert _rows(spark, lake) == _oneshot(spark, tmp_path)


def test_occ_conflicts_on_rebucket(spark, tmp_path):
    """A rebucket between staging and flip changes what bucket ids
    MEAN: never rebase across it. The writer recomputes under the
    new layout (n_buckets=None adopts it) and converges."""
    import lapidus_spark.streaming.materialize as M

    env = _env(spark)
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(env.filter(F.col("event_seq") % 2 == 0), lake)  # v1, 8 buckets

    attempts = []

    def rebucketer(attempt):
        attempts.append(attempt)
        if attempt == 0:
            M.rebucket_lake(spark, lake, new_n_buckets=4)

    m = M.merge_batch_optimistic(
        env.filter(F.col("event_seq") % 2 == 1), lake, n_buckets=None, _race_hook=rebucketer
    )
    assert attempts == [0, 1]
    assert m["n_buckets"] == 4  # recomputed under the adopted layout
    assert _rows(spark, lake) == _oneshot(spark, tmp_path)


def test_occ_exhausts_attempts(spark, tmp_path):
    """A writer that loses every race raises CommitConflictError and
    leaves the table exactly as the winners built it (all stagings
    cleaned up, manifest untouched by the loser)."""
    import lapidus_spark.streaming.materialize as M
    from lapidus_spark.streaming.materialize import CommitConflictError

    env = _env(spark)
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(env.filter(F.col("event_seq") % 3 == 0), lake)

    def always_conflict(attempt):
        # a fresh data change to (at least) the loser's buckets each time
        M.merge_batch_into_lake(
            env.filter(F.col("event_seq") % 3 == 2).withColumn(
                "event_seq", F.col("event_seq") + 1_000_000 * (attempt + 1)
            ),
            lake,
        )

    before_version = M._read_manifest(lake)["version"]
    with pytest.raises(CommitConflictError, match="lost 2 straight races"):
        M.merge_batch_optimistic(
            env.filter(F.col("event_seq") % 3 == 1),
            lake,
            max_attempts=2,
            _race_hook=always_conflict,
        )
    m = M._read_manifest(lake)
    assert m["version"] == before_version + 2  # only the interloper's commits
    noncey = [d for d in os.listdir(os.path.join(lake, "commits")) if "." in d]
    assert noncey == []  # every losing staging was dropped


def test_occ_empty_batch_is_noop(spark, tmp_path):
    import lapidus_spark.streaming.materialize as M

    env = _env(spark)
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(env, lake)
    before = M._read_manifest(lake)
    out = M.merge_batch_optimistic(env.filter(F.lit(False)), lake)
    assert out == before and M._read_manifest(lake) == before


def test_occ_arg_validation(spark, tmp_path):
    import lapidus_spark.streaming.materialize as M

    env = _env(spark)
    lake = str(tmp_path / "lake")
    with pytest.raises(ValueError, match="positive int"):
        M.merge_batch_optimistic(env, lake, n_buckets=0)
    with pytest.raises(ValueError, match="positive int"):
        M.merge_batch_optimistic(env, lake, retain_versions=0)
    M.merge_batch_into_lake(env, lake, n_buckets=8)
    with pytest.raises(ValueError, match="rebucket_lake"):
        M.merge_batch_optimistic(env, lake, n_buckets=16)
    with pytest.raises(ValueError, match="locked.*optimistic"):
        M.merge_lake_sink(env, lake, concurrency="chaotic")


def test_gc_grace_spares_fresh_occ_staging_only(spark, tmp_path):
    """The GC contract that makes unlocked staging safe: a FRESH
    nonce-named commit dir survives another writer's GC (it may be an
    in-flight staging), an AGED one is collected (crashed-writer
    orphan), and plain locked-path dirs keep immediate collection."""
    import lapidus_spark.streaming.materialize as M

    env = _env(spark)
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(env.filter(F.col("event_seq") % 2 == 0), lake)  # v1

    # simulate an in-flight OCC staging from another writer
    staged = os.path.join(lake, "commits", "0000000002.deadbeef")
    os.makedirs(staged)
    with open(os.path.join(staged, "part-00000.parquet"), "w") as fh:
        fh.write("x")

    M.merge_batch_into_lake(env.filter(F.col("event_seq") % 2 == 1), lake)  # v2 + GC
    assert os.path.isdir(staged)  # fresh staging spared

    # age it past the grace — EVERY entry in the tree, since the
    # grace keys on the newest mtime anywhere under the dir — and
    # the next commit's GC collects it
    os.utime(os.path.join(staged, "part-00000.parquet"), (1, 1))
    os.utime(staged, (1, 1))
    M.merge_batch_into_lake(
        env.filter(F.col("event_seq") % 2 == 1).withColumn(
            "event_seq", F.col("event_seq") + 1_000_000
        ),
        lake,
    )
    assert not os.path.isdir(staged)  # aged orphan collected


@pytest.mark.slow
def test_occ_two_process_race(spark, tmp_path):
    """TRUE parallelism, no scheduling control: two subprocess writers
    each optimistically merge 3 batches into one shared lake,
    launched simultaneously. Both must finish (retries absorb the
    races), the version count must equal the total number of commits,
    and the final snapshot must equal the serial oracle over the
    union of everything either writer merged."""
    import subprocess
    import sys

    import lapidus_spark.streaming.materialize as M

    lake = str(tmp_path / "lake")
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base_env = dict(os.environ, SPARK_DRIVER_MEMORY="2g", PYTHONPATH=repo_root)
    procs = [
        subprocess.Popen(
            [sys.executable, "tests/occ_race_driver.py", lake, str(w), "3"],
            env=base_env,
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for w in (0, 1)
    ]
    for p in procs:
        out, err = p.communicate(timeout=600)
        assert p.returncode == 0 and "WRITER_OK" in out, err[-2000:]

    m = M._read_manifest(lake)
    assert m["version"] == 6  # every commit serialized into its own version
    env = _env(spark)
    oracle_lake = str(tmp_path / "oracle")
    M.merge_batch_into_lake(env.filter(F.col("event_seq") % 7 < 6), oracle_lake)
    assert _rows(spark, lake) == _rows(spark, oracle_lake)


def test_occ_compaction_uncontended_equals_locked(spark, tmp_path):
    """With no concurrent writer, optimistic OPTIMIZE compacts the
    same buckets as the locked path would, publishes the same
    bit-identical snapshot, records the convergence marker (keyed on
    the nonce-named commit rel), and an immediate re-run under the
    same valve compacts nothing (no rewrite churn)."""
    import lapidus_spark.streaming.materialize as M

    env = _env(spark)
    lake = str(tmp_path / "lake")
    for i in range(3):
        M.merge_batch_into_lake(env.filter(F.col("event_seq") % 3 == i), lake)
    before = _rows(spark, lake)
    res = M.compact_lake(
        spark, lake, target_files_per_bucket=0, concurrency="optimistic"
    )
    assert res["compacted_buckets"] > 0 and res["skipped_buckets"] == 0
    assert _rows(spark, lake) == before  # pure physical rewrite
    m = M._read_manifest(lake)
    assert m["compaction"]["rel"].startswith("commits/") and "." in m["compaction"]["rel"]
    again = M.compact_lake(
        spark, lake, target_files_per_bucket=0, concurrency="optimistic"
    )
    assert again["compacted_buckets"] == 0  # convergence survives nonce names


def test_occ_compaction_partial_apply_on_conflict(spark, tmp_path):
    """A merge lands on SOME of the degraded buckets between staging
    and flip: the compaction applies PARTIALLY — the merged buckets
    keep the merge's pointers (its rows survive), the rest flip to
    the compacted files — with no retry and no lost update. The
    skipped buckets re-arm and the next OPTIMIZE finishes the job."""
    import os

    import lapidus_spark.streaming.materialize as M

    env = _env(spark)
    lake = str(tmp_path / "lake")
    for i in range(3):
        M.merge_batch_into_lake(env.filter(F.col("event_seq") % 3 == i), lake)

    interloper = (
        env.orderBy("pk", "event_seq")
        .limit(1)
        .withColumn("event_seq", F.col("event_seq") + 5_000_000)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 2000 DAYS"))
        # an update, never a tombstone: the assertion below reads the
        # consumer view, which filters deletes
        .withColumn("type", F.lit("update"))
        .withColumn("item", F.lit("occ-interloper"))
    )

    def race():
        M.merge_batch_into_lake(interloper, lake)

    res = M._compact_optimistic(
        spark, lake, 0, None, retain_versions=1, _race_hook=race
    )
    assert res["skipped_buckets"] == 1  # exactly the merged bucket
    assert res["compacted_buckets"] > 0
    m = M._read_manifest(lake)
    comp_rel = m["compaction"]["rel"]
    merged_bucket = [
        b for b, v in m["data_versions"].items() if v == res["version"] - 1
    ]
    assert len(merged_bucket) == 1
    # the merged bucket kept the MERGE's pointer, not the compaction's
    assert not m["buckets"][merged_bucket[0]].startswith(comp_rel)
    # the interloper's row survived into the final snapshot
    key = interloper.select("pk").first()[0]
    snap = {r[0]: r[1] for r in _rows(spark, lake)}
    assert snap[str(key)] >= 5_000_000
    # full snapshot = serial oracle over history + interloper
    one = str(tmp_path / "oneshot")
    M.merge_batch_into_lake(env.unionByName(interloper), one)
    assert _rows(spark, lake) == _rows(spark, one)
    # the skipped bucket re-arms: next OPTIMIZE compacts it
    res2 = M.compact_lake(
        spark, lake, target_files_per_bucket=0, concurrency="optimistic"
    )
    assert res2["compacted_buckets"] == 1 and res2["skipped_buckets"] == 0
    del os


def test_occ_compaction_aborts_on_rebucket(spark, tmp_path):
    """A rebucket mid-flight invalidates every staged bucket id: the
    optimistic compaction drops its work wholesale (zero applied),
    leaves the post-rebucket manifest untouched, and the lake reads
    back correctly."""
    import lapidus_spark.streaming.materialize as M

    env = _env(spark)
    lake = str(tmp_path / "lake")
    for i in range(2):
        M.merge_batch_into_lake(env.filter(F.col("event_seq") % 2 == i), lake)

    def race():
        M.rebucket_lake(spark, lake, new_n_buckets=4)

    res = M._compact_optimistic(
        spark, lake, 0, None, retain_versions=1, _race_hook=race
    )
    assert res["compacted_buckets"] == 0 and res["skipped_buckets"] > 0
    m = M._read_manifest(lake)
    assert m["n_buckets"] == 4 and m["version"] == res["version"]
    assert _rows(spark, lake) == _oneshot(spark, tmp_path)


def test_occ_refuses_legacy_layout(spark, tmp_path):
    """A pre-manifest legacy lake (root bucket=K dirs, no manifest)
    must NOT be treated as empty by the optimistic merge — that would
    replace the standing table with the batch and GC its files. It
    raises the ValueError naming the layout and leaves the standing
    files untouched."""
    import lapidus_spark.streaming.materialize as M

    env = _env(spark)
    lake = str(tmp_path / "lake")
    # a real r6-era legacy lake holds SNAPSHOT-shaped rows in root
    # bucket=K dirs
    (
        M.snapshot_stream(env)
        .withColumn("bucket", F.pmod(F.xxhash64("entity_id"), F.lit(8)).cast("int"))
        .write.partitionBy("bucket")
        .parquet(lake)
    )
    before = sorted(os.listdir(lake))
    assert any(d.startswith("bucket=") for d in before)
    with pytest.raises(ValueError, match="pre-manifest layout"):
        M.merge_batch_optimistic(env.limit(5), lake)
    assert sorted(os.listdir(lake)) == before


def test_occ_held_flip_lock_consumes_attempts_not_crash(spark, tmp_path):
    """A flip lock held past flip_wait_s is absorbed by the retry
    budget (CommitConflictError's contract), never escapes as
    ConcurrentMergeError, and every attempt's staging is cleaned up.
    The deferrable optimistic COMPACTION instead drops its work and
    returns zero-compacted."""
    import json
    import socket

    import lapidus_spark.streaming.materialize as M
    from lapidus_spark.streaming.materialize import LOCK_NAME, CommitConflictError

    env = _env(spark)
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(env.filter(F.col("event_seq") % 2 == 0), lake)
    # hold the lock as a LIVE writer (this pid, this host)
    with open(os.path.join(lake, LOCK_NAME), "w") as fh:
        json.dump({"pid": os.getpid(), "host": socket.gethostname()}, fh)
    try:
        with pytest.raises(CommitConflictError, match="lost 2 straight races"):
            M.merge_batch_optimistic(
                env.filter(F.col("event_seq") % 2 == 1),
                lake,
                max_attempts=2,
                flip_wait_s=0.2,
            )
        assert [d for d in os.listdir(os.path.join(lake, "commits")) if "." in d] == []
        res = M._compact_optimistic(
            spark, lake, 0, None, retain_versions=1, flip_wait_s=0.2
        )
        assert res["compacted_buckets"] == 0 and res["skipped_buckets"] > 0
        assert [d for d in os.listdir(os.path.join(lake, "commits")) if "." in d] == []
    finally:
        os.remove(os.path.join(lake, LOCK_NAME))
    # lock released: both paths work again
    M.merge_batch_optimistic(env.filter(F.col("event_seq") % 2 == 1), lake)
    assert _rows(spark, lake) == _oneshot(spark, tmp_path)


def test_gc_grace_sees_fresh_subdir_writes(spark, tmp_path):
    """Spark stagings write into pb=K/_temporary subtrees that do NOT
    bump the top-level commit dir's mtime: the grace check must key
    on the newest mtime in the tree, so a long-running staging whose
    top dir looks old but whose files are fresh survives GC."""
    import lapidus_spark.streaming.materialize as M

    env = _env(spark)
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(env.filter(F.col("event_seq") % 2 == 0), lake)
    staged = os.path.join(lake, "commits", "0000000002.cafef00d")
    sub = os.path.join(staged, "pb=3", "_temporary")
    os.makedirs(sub)
    with open(os.path.join(sub, "part-0001.parquet"), "w") as fh:
        fh.write("x")
    # age every DIRECTORY (top + subdirs) but leave the FILE fresh —
    # exactly the long-staging shape
    for d in (staged, os.path.dirname(sub), sub):
        os.utime(d, (1, 1))
    M.merge_batch_into_lake(env.filter(F.col("event_seq") % 2 == 1), lake)
    assert os.path.isdir(staged)  # fresh file deep in the tree spared it
    # now age the file too: certainly a crashed writer's orphan
    os.utime(os.path.join(sub, "part-0001.parquet"), (1, 1))
    M.merge_batch_into_lake(
        env.filter(F.col("event_seq") % 2 == 1).withColumn(
            "event_seq", F.col("event_seq") + 2_000_000
        ),
        lake,
    )
    assert not os.path.isdir(staged)


@pytest.mark.slow
def test_redundant_consumers_converge_without_coordination(spark, tmp_path):
    """The HA payoff of OCC + semilattice merges: TWO independent
    consumers of the same bronze change feed (separate checkpoints,
    no coordination) both MERGE into the SAME silver lake with
    optimistic concurrency, racing in separate processes. Double
    application is harmless — the LWW combine is idempotent and the
    flip lock serializes only the manifest rename — so the silver
    lake equals the bronze snapshot exactly, and either consumer can
    die at any point without data loss (failover = just keep the
    other one running)."""
    import subprocess
    import sys

    import lapidus_spark.streaming.materialize as M
    from lapidus_spark.streaming.materialize import _read_live, _read_manifest

    bronze = str(tmp_path / "bronze")
    silver = str(tmp_path / "silver")
    env = _env(spark)
    for i in range(3):
        M.merge_batch_into_lake(
            env.filter(F.col("event_seq") % 3 == i), bronze, retain_versions=6
        )

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base_env = dict(os.environ, SPARK_DRIVER_MEMORY="2g", PYTHONPATH=repo_root)
    procs = [
        subprocess.Popen(
            [
                sys.executable,
                "tests/medallion_crash_driver.py",
                bronze,
                silver,
                str(tmp_path / f"ck{i}"),
                "optimistic",
            ],
            env=base_env,
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for i in (0, 1)
    ]
    for p in procs:
        out, err = p.communicate(timeout=600)
        assert p.returncode == 0 and "CHAIN_OK" in out, err[-2000:]

    cols = ["entity_id", "last_seq", "last_type", "item"]

    def rows(lake):
        df = _read_live(spark, lake, _read_manifest(lake))
        return sorted(
            map(
                tuple,
                df.select(
                    *cols, F.col("last_ts").cast("timestamp_ntz").alias("last_ts")
                ).collect(),
            )
        )

    assert rows(silver) == rows(bronze)  # tombstones included


def test_held_lock_reuses_staging_no_recompute(spark, tmp_path, monkeypatch):
    """A flip-lock timeout with an UNCHANGED base manifest must not
    re-run the merge's Spark work: the staged commit is kept and only
    the lock is retried — one _stage_commit call across all attempts."""
    import json
    import socket

    import lapidus_spark.streaming.materialize as M
    from lapidus_spark.streaming.materialize import LOCK_NAME, CommitConflictError

    env = _env(spark)
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(env.filter(F.col("event_seq") % 2 == 0), lake)

    stages = []
    real = M._stage_commit

    def counting(*a, **k):
        stages.append(1)
        return real(*a, **k)

    from lapidus_spark.lake import log as lake_log

    monkeypatch.setattr(lake_log, "_stage_commit", counting)
    with open(os.path.join(lake, LOCK_NAME), "w") as fh:
        json.dump({"pid": os.getpid(), "host": socket.gethostname()}, fh)
    try:
        with pytest.raises(CommitConflictError):
            M.merge_batch_optimistic(
                env.filter(F.col("event_seq") % 2 == 1),
                lake,
                max_attempts=3,
                flip_wait_s=0.2,
            )
    finally:
        os.remove(os.path.join(lake, LOCK_NAME))
    assert len(stages) == 1  # staged once, reused across the lock retries
    # and nothing staged survives the exhausted merge
    assert [d for d in os.listdir(os.path.join(lake, "commits")) if "." in d] == []


def test_describe_history_ignores_orphan_log_entries(spark, tmp_path):
    """The format-1 flip→history crash window is gone by construction
    (the log entry is written BEFORE the pointer flip, under the
    lock), so the live version's entry always exists; the remaining
    hazard is the inverse — a writer killed AFTER its log-entry write
    but before its pointer flip leaves an orphan entry ABOVE the live
    version, which DESCRIBE HISTORY (and version resolution) must
    never report as committed."""
    import json as _json

    import lapidus_spark.streaming.materialize as M

    env = _env(spark)
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(env.filter(F.col("event_seq") % 2 == 0), lake, retain_versions=4)
    M.merge_batch_into_lake(env.filter(F.col("event_seq") % 2 == 1), lake, retain_versions=4)
    live_v = M._read_pointer(lake)["version"]
    # plant a dead writer's orphan delta above the live version
    with open(M._delta_path(lake, live_v)) as fh:
        orphan = _json.load(fh)
    orphan["version"] = live_v + 1
    M._atomic_write_json(M._delta_path(lake, live_v + 1), orphan)

    hist = M.describe_history(lake)
    assert hist[0]["version"] == live_v and hist[0]["is_live"]
    assert hist[0]["operation"] == "merge"
    assert [h["version"] for h in hist] == [2, 1]
    assert M.describe_history(lake, limit=1) == hist[:1]
    with pytest.raises(ValueError, match="no retained version"):
        M._manifest_at(lake, live_v + 1)


def test_locked_merge_rides_out_transient_flip_lock(spark, tmp_path):
    """A locked writer arriving while another writer briefly holds the
    flip lock must WAIT it out (LOCKED_WAIT_S), not die — the CLI's
    --optimistic contract says a running locked daemon keeps
    committing across an optimistic sibling's millisecond flip."""
    import threading
    import time

    import lapidus_spark.streaming.materialize as M

    env = _env(spark)
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(env.filter(F.col("event_seq") % 2 == 0), lake)

    lock_path = M._acquire_lock(lake)  # simulate a sibling's flip hold
    released = []

    def release_soon():
        time.sleep(0.8)
        os.remove(lock_path)
        released.append(True)

    t = threading.Thread(target=release_soon)
    t.start()
    try:
        # pre-fix this raised ConcurrentMergeError immediately (wait_s=0)
        M.merge_batch_into_lake(env.filter(F.col("event_seq") % 2 == 1), lake)
    finally:
        t.join()
    assert released == [True]
    assert _rows(spark, lake) == _oneshot(spark, tmp_path)


def test_occ_flip_refuses_gc_collected_staging(spark, tmp_path):
    """If the staged commit dir vanishes in the stage-to-flip gap
    (grace expiry under a suspended process, mtime skew letting a
    concurrent committer's GC collect it), the flip must NOT publish
    dangling bucket pointers — it recomputes instead, and every
    pointer in the committed manifest resolves to a real directory."""
    import shutil

    import lapidus_spark.streaming.materialize as M

    env = _env(spark)
    lake = str(tmp_path / "lake")
    batches = [env.filter(F.col("event_seq") % 3 == i) for i in range(3)]
    M.merge_batch_into_lake(batches[0], lake)  # v1

    attempts = []

    def gc_interloper(attempt):
        attempts.append(attempt)
        if attempt == 0:
            # a sibling commits (so GC has a reason to run), then its
            # "GC" collects our staged nonce dir as if the grace had
            # expired — delete every unreferenced nonce-named commit
            M.merge_batch_into_lake(batches[2], lake)
            live = {
                p.split("/", 2)[1]
                for p in M._read_manifest(lake)["buckets"].values()
                if p.startswith("commits/")
            }
            for d in os.listdir(os.path.join(lake, "commits")):
                if "." in d and d not in live:
                    shutil.rmtree(os.path.join(lake, "commits", d))

    m = M.merge_batch_optimistic(batches[1], lake, _race_hook=gc_interloper)
    assert attempts == [0, 1]  # missing staging treated as a conflict
    for rel in m["buckets"].values():
        assert os.path.isdir(os.path.join(lake, rel)), f"dangling pointer {rel}"
    assert _rows(spark, lake) == _oneshot(spark, tmp_path)


def test_occ_deterministic_staging_failure_surfaces(spark, tmp_path, monkeypatch):
    """A deterministic staging failure (not the GC-vs-read race) must
    re-raise on the FIRST attempt even when the manifest moved
    mid-flight — pre-fix it was retried max_attempts times and
    surfaced as CommitConflictError, masking the root cause."""
    import lapidus_spark.streaming.materialize as M

    env = _env(spark)
    lake = str(tmp_path / "lake")
    M.merge_batch_into_lake(env.filter(F.col("event_seq") % 2 == 0), lake)

    real = M._stage_commit
    calls = []
    state = {"interloping": False}

    def broken_stage(*a, **k):
        if state["interloping"]:
            return real(*a, **k)  # the interloper's own locked merge
        if not calls:
            # move the live version first, as a concurrent commit would
            state["interloping"] = True
            try:
                M.merge_batch_into_lake(env.filter(F.col("event_seq") % 4 == 1), lake)
            finally:
                state["interloping"] = False
        calls.append(1)
        raise ValueError("deterministic staging bug")

    from lapidus_spark.lake import log as lake_log

    monkeypatch.setattr(lake_log, "_stage_commit", broken_stage)
    with pytest.raises(ValueError, match="deterministic staging bug"):
        M.merge_batch_optimistic(env.filter(F.col("event_seq") % 2 == 1), lake)
    assert len(calls) == 1  # no blind retry loop


def test_missing_file_error_classifier():
    """The retry gate: filesystem/JVM missing-file signatures retry,
    anything else re-raises."""
    from lapidus_spark.streaming.materialize import _is_missing_file_error

    assert _is_missing_file_error(FileNotFoundError("x"))
    assert _is_missing_file_error(RuntimeError("java.io.FileNotFoundException: f"))
    assert _is_missing_file_error(Exception("[FILE_NOT_FOUND] path gone"))
    assert _is_missing_file_error(Exception("Path does not exist: /x"))
    assert not _is_missing_file_error(ValueError("schema mismatch"))
    assert not _is_missing_file_error(ZeroDivisionError())
    # deterministic LOCAL IO failures are NOT the GC race: a disk-full
    # or permission error must surface, not burn the retry budget
    assert not _is_missing_file_error(OSError(28, "No space left on device"))
    assert not _is_missing_file_error(PermissionError("denied"))


@pytest.mark.slow
def test_two_daemons_share_lake_cdf_subscriber_converges(spark, tmp_path):
    """Directive-grade end-to-end composition: TWO full daemon
    processes — the complete config stack (parse_config →
    pipeline.run → file-backend replay → envelope → lake sink with
    concurrency: "optimistic") — merge interleaved event slices into
    ONE shared lake, with a rendezvous barrier so their micro-batches
    genuinely overlap. Afterwards a CDF subscriber streams the
    converged history version by version. Must hold:

    - both daemons drain cleanly (retries absorb every race);
    - at least one REAL lost-and-recomputed race was observed
      (the daemons report their OCC conflict counters);
    - the shared snapshot equals the serial LWW oracle over the
      union of both slices;
    - the subscriber's folded feed reproduces that same snapshot
      (the streamed history converges to the table)."""
    import json
    import shutil
    import subprocess
    import sys

    import lapidus_spark.streaming.materialize as M
    from lapidus_spark.sources.tables import load_table
    from lapidus_spark.streaming.lake_source import register_lake_cdf

    lake = str(tmp_path / "lake")
    rendezvous = str(tmp_path / "rendezvous")
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    # replay dirs: slice w = event_seq % 2 == w, sub-split into three
    # single-file micro-batches (mtime-pinned arrival order); both
    # slices span the same entities, so concurrent commits contend on
    # the same buckets — the conflict path, not just rebases.
    ev = load_table(spark, SF_DIR, "events")
    for w in (0, 1):
        replay = str(tmp_path / f"replay{w}")
        os.makedirs(replay)
        for i in range(3):
            part = ev.filter(
                (F.col("event_id") % 2 == w)
                & (F.floor((F.col("event_id") % 6) / 2) == i)
            )
            stage = os.path.join(replay, f"_stage{i}")
            part.coalesce(1).write.mode("overwrite").parquet(stage)
            src = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
            dst = os.path.join(replay, f"events{i if i else ''}.parquet")
            os.replace(os.path.join(stage, src), dst)
            shutil.rmtree(stage)
            os.utime(dst, (1_700_000_000 + i * 100,) * 2)
        cfg = {
            "backends": [
                {
                    "name": f"daemon{w}",
                    "type": "file",
                    "path": replay,
                    "maxFilesPerTrigger": 1,
                    "sinks": [
                        {
                            "type": "lake",
                            "options": {
                                "path": lake,
                                "concurrency": "optimistic",
                                "retainVersions": 12,
                            },
                        }
                    ],
                }
            ],
            "checkpointRoot": str(tmp_path / f"ckpt{w}"),
        }
        with open(str(tmp_path / f"cfg{w}.json"), "w") as fh:
            json.dump(cfg, fh)

    procs = [
        subprocess.Popen(
            [
                sys.executable,
                "tests/occ_daemon_driver.py",
                str(tmp_path / f"cfg{w}.json"),
                rendezvous,
                "2",
            ],
            env=dict(
                os.environ,
                SPARK_DRIVER_MEMORY="2g",
                PYTHONPATH=repo_root,
                # cross-process race barrier: both daemons stage their
                # FIRST merge against the same base version and only
                # then race the flip — one commits, the other must
                # observe a real conflict and recompute (deterministic,
                # instead of hoping JVM startup skew overlaps)
                LAPIDUS_OCC_BARRIER=f"{tmp_path / 'occ_barrier'}:2",
            ),
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for w in (0, 1)
    ]
    outs, timings = [], []
    for p in procs:
        out, err = p.communicate(timeout=600)
        assert p.returncode == 0 and "DAEMON_OK" in out, err[-2000:]
        outs.append(out)
        timings.append([l for l in err.splitlines() if "[occ_daemon" in l])
    conflicts = sum(
        int(line.split("conflicts=")[1].split()[0])
        for o in outs
        for line in o.splitlines()
        if "DAEMON_OK" in line
    )
    assert conflicts >= 1, f"no real race observed: {outs} {timings}"

    # every commit serialized into its own version; snapshot == oracle
    n_versions = M._read_pointer(lake)["version"]
    assert n_versions == 6
    env = _env(spark)
    oracle = str(tmp_path / "oracle")
    M.merge_batch_into_lake(env.filter(F.col("event_seq") % 6 < 6), oracle)
    expected = _rows(spark, oracle)
    assert _rows(spark, lake) == expected

    # CDF subscriber: stream the whole converged history one version
    # per trigger and fold to the final state per entity
    register_lake_cdf(spark)
    # drain via processAllAvailable: the python source has no
    # availableNow support (the fallback runs ONE batch, which the
    # maxVersionsPerBatch admission cap would clip to version 1)
    q = (
        spark.readStream.format("lake_cdf")
        .option("path", lake)
        .option("maxVersionsPerBatch", "1")
        .load()
        .writeStream.format("memory")
        .queryName("occ_daemon_cdf")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    feed = spark.table("occ_daemon_cdf")
    final = (
        feed.groupBy("entity_id")
        .agg(
            F.max_by(
                F.struct("last_seq", "last_ts", "last_type", "item"), F.col("ver")
            ).alias("s")
        )
        .select("entity_id", "s.last_seq", "s.last_ts", "s.last_type", "s.item")
        .filter(F.col("last_type") != "delete")
    )
    got = sorted(
        (r[0], r[1], r[2], r[3], r[4])
        for r in final.withColumn(
            "last_ts", F.col("last_ts").cast("timestamp_ntz")
        ).collect()
    )
    assert got == expected
