"""Lake admin plane: OPTIMIZE (compact/Z-order), REBUCKET, RESTORE,
VACUUM, DELETE WHERE, CHECK-constraint DDL, SHALLOW CLONE. Imports
only the commit-log plane (``log``).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame  # noqa: F401 — signature annotations
from pyspark.sql import functions as F

from . import log
from .stats import _commit_file_stats
from .log import (
    GC_GRACE_SECONDS,
    LOCKED_WAIT_S,
    LOG_DIR,
    ConcurrentMergeError,
    ConstraintViolationError,
    _acquire_lock,
    _apply_delta,
    _atomic_write_json,
    _catalog_min_referenced,
    _bucket_content_changed,
    _checkpoint_path,
    _delta_path,
    _flip_version,
    _gc_unreferenced,
    _manifest_at,
    _manifest_columns,
    _next_commit_stamp,
    _publish_version,
    _read_manifest,
    _read_pointer,
    _reclaimable_commit_dirs,
    _resolve_version,
    _validate_merge_args,
)

#: dimensions an OPTIMIZE may cluster on — exactly the columns
#: ``_commit_file_stats`` records zone maps for (clustering on a
#: column the manifest carries no ranges for would sort bytes
#: nobody can prune on)
_CLUSTERABLE = ("entity_id", "last_ts")


def _cluster_sorted(rows: DataFrame, n_partitions: int, cluster_by: tuple) -> DataFrame:
    """Bucket-partitioned, cluster-sorted rewrite rows for an
    OPTIMIZE. ONE dimension sorts lexically — a total order, so the
    valve's sequential file splits carry DISJOINT ranges and a point
    read overlaps ≤1 file per key. TWO dimensions sort by a 32-bit
    Morton (Z-order) interleave of per-bucket rank-scaled positions —
    OPTIMIZE ZORDER BY: no file split is disjoint in either single
    dimension, but every file's [min, max] stays NARROW on BOTH axes
    at once, so the same footer zone maps prune point reads AND time
    windows from one layout. Ranks come from ``percent_rank`` over
    the bucket (a window on the key the rewrite shuffles on anyway),
    which makes the interleave robust to skewed value distributions —
    the reason Delta z-orders range-ids rather than raw bytes."""
    if tuple(cluster_by) == ("entity_id",):
        return rows.repartition(n_partitions, F.col("bucket")).sortWithinPartitions(
            "bucket", "entity_id"
        )
    from pyspark.sql import Window

    def spread(x):  # 16-bit value → even bit positions (Morton spread)
        for sh, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)):
            x = x.bitwiseOR(F.shiftleft(x, sh)).bitwiseAND(F.lit(mask))
        return x

    z = None
    for i, c in enumerate(cluster_by):
        w = Window.partitionBy("bucket").orderBy(F.col(c))
        r16 = F.floor(F.percent_rank().over(w) * F.lit(65535)).cast("long")
        lane = F.shiftleft(spread(r16), i)
        z = lane if z is None else z.bitwiseOR(lane)
    return (
        rows.withColumn("__z", z)
        .repartition(n_partitions, F.col("bucket"))
        .sortWithinPartitions("bucket", "__z")
        .drop("__z")
    )


def _resolve_stats_columns(manifest: dict, stats_columns) -> tuple:
    """The declared data-skipping columns for an OPTIMIZE (VERDICT r10
    #4 — Delta's dataSkippingStatsColumns posture): ``None`` ADOPTS
    the set a previous compaction recorded in the manifest (the table
    property semantics — declare once, every later OPTIMIZE keeps the
    maps fresh), an explicit tuple declares/replaces it. Only payload
    columns the epoch actually carries qualify — recording ranges for
    an unknown name would be dead metadata, and the core axes
    (entity_id, last_ts) are always mapped anyway."""
    if stats_columns is None:
        return tuple(manifest.get("stats_columns", ()))
    known = {"item"} | {c["name"] for c in _manifest_columns(manifest)}
    cols = tuple(stats_columns)
    for c in cols:
        if c not in known:
            raise ValueError(
                f"stats_columns: {c!r} is not a payload column of this lake "
                f"(known: {sorted(known)}; entity_id/last_ts are always "
                "mapped)"
            )
    if len(set(cols)) != len(cols):
        raise ValueError(f"stats_columns: duplicate names in {cols!r}")
    return cols


def _resolve_bloom_columns(manifest: dict, bloom_columns) -> tuple:
    """The declared per-file Bloom-filter columns for an OPTIMIZE
    (round 12, VERDICT r11 #4 — Delta's bloom-filter-index posture as
    commit metadata): same table-property semantics as
    ``stats_columns`` (``None`` adopts, an explicit tuple declares/
    replaces). Restricted to STRING or INTEGRAL payload columns — the
    equality-probe shapes whose hash the read side can replay exactly
    (strings hash their UTF-8 bytes, integrals their 8-byte value);
    float/decimal equality probes are ill-posed and stay on the
    min/max path. ``item``'s physical type is producer-defined and
    not recorded in the epoch, so it is always accepted HERE and
    resolved at build time instead (ADVICE r12 #2): the sidecar
    writer reads the staged files' actual schema, casts integrals to
    bigint so build and probe hash the same 8 bytes, and records
    nothing for any other physical type — declaring a float-typed
    ``item`` costs the pruning, never correctness."""
    if bloom_columns is None:
        return tuple(manifest.get("bloom_columns", ()))
    kinds = {"item": None}  # physical type resolved at build time
    kinds.update(
        {c["name"]: c["type"].lower().split("(")[0] for c in _manifest_columns(manifest)}
    )
    ok_types = {
        "string", "varchar", "char",
        "tinyint", "smallint", "int", "integer", "bigint", "long",
    }
    cols = tuple(bloom_columns)
    for c in cols:
        if c not in kinds:
            raise ValueError(
                f"bloom_columns: {c!r} is not a payload column of this lake "
                f"(known: {sorted(kinds)})"
            )
        if kinds[c] is not None and kinds[c] not in ok_types:
            raise ValueError(
                f"bloom_columns: {c!r} has type {kinds[c]!r} — Bloom "
                "filters record string/integral columns only (equality "
                "probes on floats/decimals are ill-posed; ranges still "
                "apply via stats_columns)"
            )
    if len(set(cols)) != len(cols):
        raise ValueError(f"bloom_columns: duplicate names in {cols!r}")
    return cols


def _validate_cluster_by(cluster_by) -> tuple:
    cols = tuple(cluster_by)
    if not 1 <= len(cols) <= 2 or any(c not in _CLUSTERABLE for c in cols) or len(
        set(cols)
    ) != len(cols):
        raise ValueError(
            f"cluster_by must be 1-2 distinct columns from {_CLUSTERABLE}, "
            f"got {cluster_by!r}"
        )
    return cols


def compact_lake(
    spark,
    lake_dir: str,
    target_files_per_bucket: int = 1,
    max_records_per_file: int | None = None,
    retain_versions: int = 1,
    concurrency: str = "locked",
    cluster_by: tuple = ("entity_id",),
    stats_columns: tuple | None = None,
    bloom_columns: tuple | None = None,
    bloom_bits: int | None = None,
) -> dict:
    """OPTIMIZE for the lake: rewrite the buckets whose physical
    layout has degraded — more than ``target_files_per_bucket``
    parquet files (each micro-batch overwrite leaves one file per
    writing task, so a long-running merge sink accretes small files)
    — into one fresh commit directory, published through the SAME
    atomic manifest flip as a merge. Logical content is untouched (a
    pure physical rewrite): the new version's snapshot is
    bit-identical to the old one.

    Scale contract: only degraded buckets are read and rewritten
    (k·(table/B) bytes, never a full-table pass unless every bucket
    is degraded); the rewrite repartitions on the bucket column so
    each bucket lands in exactly one task → one output file, with
    ``max_records_per_file`` as the splitting valve for buckets too
    large for a single file. Crash-safe like the merge: all new
    bytes go to ``commits/<version>`` and the flip publishes them
    atomically; a crash leaves the old layout fully live. Takes the
    single-writer lock (compaction and merges never interleave).

    Returns ``{"version", "compacted_buckets"}`` — version unchanged
    when nothing needed work (no empty commits). Convergent under a
    valve: the committed manifest records which commit was a
    compaction and with what valve, so a bucket the valve split into
    several files is NOT re-counted as degraded by the next
    compaction (same valve) — no endless rewrite/version churn; a
    merge that rewrites the bucket moves its pointer off the
    compaction commit and re-arms the check.

    ``concurrency="optimistic"`` removes the LONGEST lock-hold in the
    system: the rewrite stages unlocked (writers keep committing) and
    the flip applies PARTIALLY — any bucket a concurrent commit
    data-changed mid-flight is simply dropped from the compaction
    (the merge's pointer wins; the bucket re-arms for the next
    OPTIMIZE). No retry loop is ever needed because partial
    application is CORRECT for a pure physical rewrite — unlike a
    merge, losing a race loses no data, only deferred maintenance.
    Adds ``skipped_buckets`` to the result.

    ``cluster_by`` picks the sort: the default single dimension
    (``entity_id``) gives range-DISJOINT file splits (point reads
    open ≤1 file per key); two dimensions (``("entity_id",
    "last_ts")``) Z-order the bucket so both axes' zone maps stay
    narrow at once — OPTIMIZE ZORDER BY, trading the single-axis
    disjointness guarantee for multi-axis prunability. Changing
    ``cluster_by`` re-arms convergence (a requested re-layout)."""
    if concurrency not in ("locked", "optimistic"):
        raise ValueError(
            f"concurrency must be 'locked' or 'optimistic', got {concurrency!r}"
        )
    cluster_by = _validate_cluster_by(cluster_by)
    if concurrency == "optimistic":
        return _compact_optimistic(
            spark,
            lake_dir,
            target_files_per_bucket,
            max_records_per_file,
            retain_versions,
            cluster_by=cluster_by,
            stats_columns=stats_columns,
            bloom_columns=bloom_columns,
            bloom_bits=bloom_bits,
        )
    lock = _acquire_lock(lake_dir, wait_s=LOCKED_WAIT_S)
    try:
        manifest = _read_manifest(lake_dir)
        if manifest is None:
            raise ValueError(f"lake at {lake_dir} has no manifest to compact")
        stats_columns = _resolve_stats_columns(manifest, stats_columns)
        bloom_columns = _resolve_bloom_columns(manifest, bloom_columns)
        degraded = _degraded_buckets(
            lake_dir, manifest, target_files_per_bucket, max_records_per_file, cluster_by
        )
        if not degraded:
            return {"version": manifest["version"], "compacted_buckets": 0}
        rows = log._read_live(spark, lake_dir, manifest, set(degraded))
        # CLUSTERED rewrite: one task per bucket, sorted on the
        # cluster dimensions (lexical for one, Z-order for two), so
        # the valve's file splits carry prunable ranges — the zone
        # maps recorded from the staged footers make lake_point_read
        # / lake_time_read open a file subset instead of bucket dirs.
        packed = _cluster_sorted(rows, len(degraded), cluster_by)
        version = manifest["version"] + 1
        _publish_version(
            lake_dir,
            manifest,
            packed,
            degraded,
            manifest["n_buckets"],
            retain_versions,
            max_records_per_file=max_records_per_file,
            extra={
                "compaction": {
                    "version": version,
                    "valve": max_records_per_file,
                    "rel": f"commits/{version:010d}",
                    "cluster_by": list(cluster_by),
                },
                "stats_columns": list(stats_columns),
                "bloom_columns": list(bloom_columns),
            },
            data_change=False,
            with_file_stats=True,
            stats_columns=stats_columns,
            bloom_columns=bloom_columns,
            bloom_bits=bloom_bits,
        )
        return {"version": version, "compacted_buckets": len(degraded)}
    finally:
        try:
            os.remove(lock)
        except FileNotFoundError:
            pass


def _degraded_buckets(
    lake_dir: str,
    manifest: dict,
    target_files_per_bucket: int,
    max_records_per_file: int | None,
    cluster_by: tuple = ("entity_id",),
) -> list:
    """Buckets whose physical layout needs an OPTIMIZE under this
    valve: more parquet files than the target — excluding buckets
    still pointing into the last compaction commit under the SAME
    valve AND cluster dimensions (the convergence check; keyed on the
    recorded commit ``rel`` so it survives nonce-named optimistic
    compaction dirs — switching ``cluster_by`` re-arms every bucket:
    a re-cluster is a requested layout change, not churn)."""
    comp = manifest.get("compaction")
    comp_prefix = None
    if (
        comp is not None
        and comp.get("valve") == max_records_per_file
        and comp.get("cluster_by", ["entity_id"]) == list(cluster_by)
    ):
        comp_prefix = comp["rel"] + "/"
    dvs = manifest.get("deletion_vectors", {})
    degraded = []
    for b, rel in manifest["buckets"].items():
        if b in dvs:
            # a standing deletion vector is deferred maintenance by
            # definition: the rewrite reads through the mask, so the
            # redactions materialize as physical tombstones and the
            # new pointer sheds the vector (the OPTIMIZE purge step
            # of the merge-on-read DELETE)
            degraded.append(int(b))
            continue
        if comp_prefix is not None and rel.startswith(comp_prefix):
            continue  # already compacted under this exact valve
        try:
            nfiles = sum(
                1
                for f in os.listdir(os.path.join(lake_dir, rel))
                if f.endswith(".parquet")
            )
        except FileNotFoundError:
            nfiles = 0
        if nfiles > target_files_per_bucket:
            degraded.append(int(b))
    return sorted(degraded)


def _compact_optimistic(
    spark,
    lake_dir: str,
    target_files_per_bucket: int,
    max_records_per_file: int | None,
    retain_versions: int,
    flip_wait_s: float = 30.0,
    _race_hook: Callable[[], None] | None = None,
    cluster_by: tuple = ("entity_id",),
    stats_columns: tuple | None = None,
    bloom_columns: tuple | None = None,
    bloom_bits: int | None = None,
) -> dict:
    """Lock-free-staging OPTIMIZE (see ``compact_lake``): read and
    rewrite the degraded buckets with NO lock held, then under the
    flip lock apply only the buckets no concurrent commit
    data-changed meanwhile (the ``data_versions`` stamps decide; a
    concurrent COMPACTION's equal stamps are also a skip-free apply —
    two racing optimizers both land, the second a harmless no-op
    rewrite). Dropped buckets' staged files stay inside the commit
    dir as dead weight until the dir leaves every retained manifest —
    wasted space bounded by the lost buckets, never wrong data."""
    import shutil
    import uuid

    base = _read_manifest(lake_dir)
    if base is None:
        raise ValueError(f"lake at {lake_dir} has no manifest to compact")
    degraded = _degraded_buckets(
        lake_dir, base, target_files_per_bucket, max_records_per_file, cluster_by
    )
    if not degraded:
        return {"version": base["version"], "compacted_buckets": 0, "skipped_buckets": 0}
    commit_rel = f"commits/{base['version'] + 1:010d}.{uuid.uuid4().hex[:8]}"
    try:
        stats_columns = _resolve_stats_columns(base, stats_columns)
        bloom_columns = _resolve_bloom_columns(base, bloom_columns)
        rows = log._read_live(spark, lake_dir, base, set(degraded))
        # clustered, like the locked path — zone maps from the footers
        packed = _cluster_sorted(rows, len(degraded), cluster_by)
        log._stage_commit(lake_dir, packed, degraded, commit_rel, max_records_per_file)
        staged_stats = _commit_file_stats(lake_dir, commit_rel, degraded, stats_columns)
        if bloom_columns:
            from .stats import _write_bloom_sidecar

            # sidecar into the STAGED dir; buckets later dropped at the
            # flip leave unused entries behind — dead weight in a dir
            # GC reclaims, never wrong (readers look up by live file)
            _write_bloom_sidecar(
                spark, lake_dir, commit_rel, degraded,
                bloom_columns, base, bloom_bits=bloom_bits,
            )
    except Exception:
        # a concurrent commit (retain_versions=1) can GC the base
        # version's files out from under the unlocked rewrite.
        # Compaction is deferrable maintenance: if the manifest moved,
        # drop the half-staged work and report zero-compacted (the
        # degraded buckets stay armed) instead of killing the caller
        # — the same race the merge twin absorbs by retrying.
        shutil.rmtree(os.path.join(lake_dir, commit_rel), ignore_errors=True)
        live_now = _read_manifest(lake_dir)
        if (live_now["version"] if live_now else 0) != base["version"]:
            return {
                "version": live_now["version"] if live_now else base["version"],
                "compacted_buckets": 0,
                "skipped_buckets": len(degraded),
            }
        raise
    if _race_hook is not None:
        _race_hook()
    try:
        lock = _acquire_lock(lake_dir, wait_s=flip_wait_s)
    except ConcurrentMergeError:
        # flip lock held past flip_wait_s: compaction is deferrable
        # maintenance, so drop the work instead of raising — the
        # degraded buckets stay armed for the next OPTIMIZE.
        shutil.rmtree(os.path.join(lake_dir, commit_rel), ignore_errors=True)
        live_now = _read_manifest(lake_dir)
        return {
            "version": (live_now or base)["version"],
            "compacted_buckets": 0,
            "skipped_buckets": len(degraded),
        }
    try:
        cur = _read_manifest(lake_dir)
        if not os.path.isdir(os.path.join(lake_dir, commit_rel)):
            # staged rewrite GC'd mid-gap (grace expiry / mtime skew):
            # flipping would publish dangling pointers — defer instead
            return {
                "version": cur["version"],
                "compacted_buckets": 0,
                "skipped_buckets": len(degraded),
            }
        if cur["n_buckets"] != base["n_buckets"]:
            # a rebucket rewrote the whole layout mid-flight: nothing
            # to salvage (bucket ids changed meaning) — drop the work
            shutil.rmtree(os.path.join(lake_dir, commit_rel), ignore_errors=True)
            return {
                "version": cur["version"],
                "compacted_buckets": 0,
                "skipped_buckets": len(degraded),
            }
        keep = [
            b for b in degraded if not _bucket_content_changed(base, cur, str(b))
        ]
        if not keep:
            shutil.rmtree(os.path.join(lake_dir, commit_rel), ignore_errors=True)
            return {
                "version": cur["version"],
                "compacted_buckets": 0,
                "skipped_buckets": len(degraded),
            }
        version = cur["version"] + 1
        _flip_version(
            lake_dir,
            cur,
            commit_rel,
            keep,
            cur["n_buckets"],
            retain_versions,
            extra={
                "compaction": {
                    "version": version,
                    "valve": max_records_per_file,
                    "rel": commit_rel,
                    "cluster_by": list(cluster_by),
                },
                "stats_columns": list(stats_columns),
                "bloom_columns": list(bloom_columns),
            },
            data_change=False,
            file_stats={b: s for b, s in staged_stats.items() if int(b) in set(keep)},
        )
        return {
            "version": version,
            "compacted_buckets": len(keep),
            "skipped_buckets": len(degraded) - len(keep),
        }
    finally:
        try:
            os.remove(lock)
        except FileNotFoundError:
            pass


def rebucket_lake(
    spark, lake_dir: str, new_n_buckets: int, retain_versions: int = 1
) -> dict:
    """Change the lake's pinned bucket layout — the scale-out path
    when a table outgrows the ``n_buckets`` chosen at creation (each
    merge rewrites whole touched buckets, so oversized buckets make
    every merge's write amplification worse; more buckets restore
    the k·(table/B) contract). A rebucket is necessarily a one-time
    full-table rewrite (every row re-hashes), published as ONE
    atomic manifest flip that swaps the entire bucket map and the
    pinned ``n_buckets`` together: readers and crash-replays see
    either the old layout or the new, never a mix, and retained
    older versions still time-travel through their own manifests
    (a version's manifest carries its own layout). Subsequent
    merges must pass the new ``n_buckets`` — or ``None`` to adopt
    whatever layout is pinned. Takes the single-writer lock."""
    if (
        isinstance(new_n_buckets, bool)
        or not isinstance(new_n_buckets, int)
        or new_n_buckets < 1
    ):
        raise ValueError(f"new_n_buckets must be a positive int, got {new_n_buckets!r}")
    lock = _acquire_lock(lake_dir, wait_s=LOCKED_WAIT_S)
    try:
        manifest = _read_manifest(lake_dir)
        if manifest is None:
            raise ValueError(f"lake at {lake_dir} has no manifest to rebucket")
        if manifest["n_buckets"] == new_n_buckets:
            return {"version": manifest["version"], "n_buckets": new_n_buckets}
        rows = log._read_live(spark, lake_dir, manifest)
        if rows is None:  # empty table: the layout change is pure metadata
            version = manifest["version"] + 1
            _flip_version(
                lake_dir,
                manifest,
                f"commits/{version:010d}",  # unused: nothing touched
                [],
                new_n_buckets,
                retain_versions,
                replace_all=True,
                extra={
                    "rebucket": {
                        "version": version,
                        "from": manifest["n_buckets"],
                        "to": new_n_buckets,
                    }
                },
            )
            return {"version": version, "n_buckets": new_n_buckets}
        rehashed = rows.withColumn(
            "bucket",
            F.pmod(F.xxhash64("entity_id"), F.lit(new_n_buckets)).cast("int"),
        ).repartition(new_n_buckets, F.col("bucket"))
        rehashed = rehashed.persist()
        try:
            touched = sorted(
                r["bucket"] for r in rehashed.select("bucket").distinct().collect()
            )
            _publish_version(
                lake_dir,
                manifest,
                rehashed,
                touched,
                new_n_buckets,
                retain_versions,
                replace_all=True,
                # the rebucket marker lets the streaming CDF source
                # recognize this exact version step as a snapshot-
                # identical layout swap (zero change rows) instead of
                # demanding a full-snapshot restart; data stamps still
                # reset (data_change=True) because bucket ids change
                # meaning across the swap.
                extra={
                    "rebucket": {
                        "version": manifest["version"] + 1,
                        "from": manifest["n_buckets"],
                        "to": new_n_buckets,
                    }
                },
            )
        finally:
            rehashed.unpersist()
        return {"version": manifest["version"] + 1, "n_buckets": new_n_buckets}
    finally:
        try:
            os.remove(lock)
        except FileNotFoundError:
            pass


def restore_lake(lake_dir: str, version: int, retain_versions: int = 2) -> dict:
    """RESTORE TABLE ... TO VERSION AS OF — Delta RESTORE's analog as
    a METADATA-ONLY commit (no Spark session, no data bytes written):
    a new version whose bucket pointers are the target version's, so
    the live snapshot reverts while history stays append-only (the
    undone versions remain time-travelable inside retention, and the
    restore itself is one more commit a CDF subscriber consumes as an
    ordinary diff — the inverse of the undone batches' effect).

    Scale contract: cost is O(buckets whose CONTENT differs between
    live and target), proven by the ``data_versions`` stamps — a
    bucket that diverged only through compactions (physical-only
    rewrites) KEEPS its live pointer (the better-packed files; the
    rows are identical by the stamp proof), so a restore never undoes
    maintenance work and never touches a data file at all. Zone maps
    for repointed buckets are taken from the target manifest (they
    describe exactly the files being repointed); the schema epoch
    reverts with the data (a restore across a schema evolution reads
    under the target's columns again, while the evolved versions keep
    their own epoch for time travel). A rebucket (or any bucket-set
    change) between target and live swaps the ENTIRE map back
    (``replace_all`` — bucket ids are not comparable across layouts).

    Runs under the writer lock; an optimistic merge staged against
    the pre-restore manifest sees the moved stamps (or the reverted
    columns epoch) and recomputes — a restore is a data change like
    any other. The target must still be retained; size the merges'
    ``retain_versions`` to cover your undo horizon. Returns
    ``{"version", "restored_from", "restored_buckets",
    "replace_all"}`` — version unchanged when live content already
    equals the target (no empty commits)."""
    _validate_merge_args(None, retain_versions)
    lock = _acquire_lock(lake_dir, wait_s=LOCKED_WAIT_S)
    try:
        live = _read_manifest(lake_dir)
        if live is None:
            raise ValueError(f"lake at {lake_dir} has no manifest to restore")
        target = _manifest_at(lake_dir, version)  # unretained → fails fast
        live_v = int(live["version"])
        if version == live_v:
            return {
                "version": live_v,
                "restored_from": version,
                "restored_buckets": 0,
                "replace_all": False,
            }
        replace_all = target["n_buckets"] != live["n_buckets"] or set(
            target["buckets"]
        ) != set(live["buckets"])
        if replace_all:
            touched_rels = dict(target["buckets"])
        else:
            touched_rels = {
                b: rel
                for b, rel in target["buckets"].items()
                if _bucket_content_changed(live, target, b)
            }
        if not touched_rels:
            # only physical-only commits landed since the target:
            # live content is already the target snapshot
            return {
                "version": live_v,
                "restored_from": version,
                "restored_buckets": 0,
                "replace_all": False,
            }
        stats = {
            b: target["file_stats"][b]
            for b in touched_rels
            if b in target.get("file_stats", {})
        }
        # restore the TARGET's deletion vectors for every repointed
        # bucket (an empty list CLEARS the live vector — a restore
        # across a DV delete must undo the read-time redaction, and
        # a DV-only diff keeps the pointer so _apply_delta would
        # otherwise carry the live vector forward)
        target_dvs = target.get("deletion_vectors", {})
        dvs = {b: target_dvs.get(b, []) for b in touched_rels}
        extra = None
        if target.get("columns", []) != live.get("columns", []):
            extra = {"columns": list(target.get("columns", []))}
        new_manifest = _flip_version(
            lake_dir,
            live,
            commit_rel="",
            touched=[],
            n_buckets=target["n_buckets"],
            retain_versions=retain_versions,
            replace_all=replace_all,
            extra=extra,
            data_change=True,
            file_stats=stats or None,
            touched_rels=touched_rels,
            deletion_vectors=dvs,
        )
        return {
            "version": int(new_manifest["version"]),
            "restored_from": version,
            "restored_buckets": len(touched_rels),
            "replace_all": replace_all,
        }
    finally:
        try:
            os.remove(lock)
        except FileNotFoundError:
            pass


def vacuum_lake(
    lake_dir: str,
    retain_versions: int = 1,
    dry_run: bool = False,
    grace_seconds: float | None = None,
) -> dict:
    """Delta VACUUM's analog as an EXPLICIT command: raise the
    retention floor to ``live - retain_versions + 1`` and reclaim
    everything no remaining retained version references — commit
    dirs and commit-log entries below the floor's checkpoint.
    Per-commit GC already enforces each merge's own
    ``retain_versions`` as it goes; this is the administrative
    override for shrinking a horizon after the fact (a table merged
    with ``retain_versions=24`` for a backfill audit, vacuumed back
    to 1 when the audit closes) and for reclaiming crashed writers'
    aged-out staging orphans without waiting for the next commit.

    METADATA-ONLY and version-preserving: the pointer's ``floor``
    moves, the version does not (an expired time-travel read fails
    fast with the retention error, exactly as if per-commit GC had
    pruned it). ``dry_run=True`` measures without mutating. Orphan
    commit dirs younger than ``grace_seconds`` (default
    ``GC_GRACE_SECONDS``) are spared — they may be a live optimistic
    writer's staged-not-yet-flipped commit. Reader contract is
    Delta's: a concurrent reader still scanning a version this
    vacuum expires can lose files mid-scan — size the horizon to
    cover the longest reader.

    Returns ``{"version", "floor", "reclaimable_dirs",
    "reclaimable_files", "reclaimable_bytes", "dry_run"}`` (counts
    are commit-dir scoped — what THIS call can free)."""
    _validate_merge_args(None, retain_versions)
    lock = _acquire_lock(lake_dir, wait_s=LOCKED_WAIT_S)
    try:
        pointer = _read_pointer(lake_dir)
        if pointer is None:
            raise ValueError(f"lake at {lake_dir} has no manifest to vacuum")
        live_v = int(pointer["version"])
        old_floor = int(pointer.get("floor", 1))
        new_floor = max(old_floor, live_v - retain_versions + 1)
        # catalog interlock (VERDICT r10 #2): a catalog member's floor
        # must never rise past the oldest table version a retained
        # catalog entry references — that version IS still readable
        # through read_catalog_table, so reclaiming it would break a
        # committed tx-consistent snapshot. The coordinated path is
        # catalog_vacuum, which trims the catalog horizon FIRST.
        cat_min = _catalog_min_referenced(lake_dir)
        if cat_min is not None and new_floor > cat_min:
            raise ValueError(
                f"vacuum_lake: retain_versions={retain_versions} would raise "
                f"the floor to {new_floor}, but a retained catalog entry "
                f"still references this table at version {cat_min} — trim "
                "the catalog horizon first (catalog_vacuum) or retain at "
                f"least {live_v - cat_min + 1} versions"
            )
        # clone interlock (round 12, VERDICT r11 #3 — the same posture
        # for shallow clones): a live clone reads this lake's files by
        # absolute reference; expiring its pinned version would break
        # the fork's unrewritten buckets. The coordinated escape:
        # compact the clone (localizes every bucket), age out / vacuum
        # its pre-compaction versions, then detach_clone — the pin
        # also self-heals once the clone no longer references us.
        clone_min = log._clone_min_referenced(lake_dir)
        if clone_min is not None and new_floor > clone_min:
            raise ValueError(
                f"vacuum_lake: retain_versions={retain_versions} would raise "
                f"the floor to {new_floor}, but a live shallow clone still "
                f"references this table at version {clone_min} — compact the "
                "clone to localize its buckets and detach_clone(src, dst) "
                f"(or force-detach), or retain at least "
                f"{live_v - clone_min + 1} versions"
            )
        # fail-closed like GC: if any version that must REMAIN
        # retained cannot be resolved, vacuum nothing
        retained = [
            _resolve_version(lake_dir, pointer, v)
            for v in range(new_floor, live_v + 1)
        ]
        live_commits = {
            p.split("/", 2)[1]
            for m in retained
            for p in m["buckets"].values()
            if p.startswith("commits/")
        }
        if grace_seconds is None:
            grace_seconds = GC_GRACE_SECONDS
        # the same enumeration the GC below will delete from — shared
        # so the (dry-run) report and the deletions can never drift
        candidates = _reclaimable_commit_dirs(lake_dir, live_commits, grace_seconds)
        commits_root = os.path.join(lake_dir, "commits")
        nbytes = nfiles = 0
        for d in candidates:
            for root, _dirs, files in os.walk(os.path.join(commits_root, d)):
                for f in files:
                    try:
                        nbytes += os.path.getsize(os.path.join(root, f))
                        nfiles += 1
                    except OSError:
                        pass
        # stale SQL-writer staging (round 13): a crashed
        # df.write.format("lake") leaves its _staging/<uuid> dir
        # behind (commit/abort normally clean it). Anything older
        # than the grace window is provably dead — a live write's
        # staged files keep fresh mtimes until its commit runs.
        import shutil
        import time as _time

        staging_root = os.path.join(lake_dir, "_staging")
        stale_staging = []
        try:
            for d in sorted(os.listdir(staging_root)):
                p = os.path.join(staging_root, d)
                try:
                    newest = max(
                        (os.path.getmtime(os.path.join(p, f))
                         for f in os.listdir(p)),
                        default=os.path.getmtime(p),
                    )
                except OSError:
                    continue
                if _time.time() - newest > grace_seconds:
                    stale_staging.append(p)
        except FileNotFoundError:
            pass
        report = {
            "version": live_v,
            "floor": new_floor,
            "reclaimable_dirs": len(candidates),
            "reclaimable_files": nfiles,
            "reclaimable_bytes": nbytes,
            "stale_staging_dirs": len(stale_staging),
            "dry_run": dry_run,
        }
        if dry_run:
            return report
        if new_floor != old_floor:
            log._commit_manifest(
                lake_dir, {"format": 2, "version": live_v, "floor": new_floor}
            )
        _gc_unreferenced(lake_dir, retained[-1], grace_seconds=grace_seconds)
        for p in stale_staging:
            try:
                shutil.rmtree(p)
            except OSError:
                pass
        try:
            os.rmdir(staging_root)
        except OSError:
            pass
        return report
    finally:
        try:
            os.remove(lock)
        except FileNotFoundError:
            pass


def delete_from_lake(
    spark,
    lake_dir: str,
    predicate: str,
    retain_versions: int = 2,
    max_records_per_file: int | None = None,
    mode: str = "rewrite",
    max_dv_entries: int = 100_000,
) -> dict:
    """DELETE FROM ... WHERE — row-level deletes by SQL predicate
    over the snapshot columns (``entity_id, last_seq, last_ts,
    last_type, item`` + the epoch's accreted columns). Matching
    VISIBLE rows flip to tombstones (``last_type='delete'``, payload
    columns nulled) keeping their LWW position (seq/ts unchanged — a
    retroactive redaction, the GDPR-purge shape): the key stays
    physically present so change feeds keep their new ⊇ old
    completeness invariant, and ``lake_changes_rows`` emits the
    redaction as ``delete`` rows carrying the removed content as the
    pre-image (visible→invisible is a delete regardless of seq/ts).

    Two physical strategies (same logical result, same CDF output):

    - ``mode="rewrite"`` — rewrite the matched buckets with the
      tombstones materialized (Delta DELETE's copy-on-write). One
      locate pass, then k·(table/B) bytes rewritten.
    - ``mode="dv"`` — DELETION VECTORS (Delta's merge-on-read): the
      commit records the matched rows' ``(entity_id, last_seq,
      last_ts)`` triples per bucket in the commit LOG and writes
      ZERO data bytes — the touched buckets keep their pointers
      (and zone maps), and every read path applies the vector as a
      broadcast mask (``log._apply_dv_mask``). The physical purge is
      deferred to OPTIMIZE: ``compact_lake`` treats DV'd buckets as
      degraded, materializes the tombstones through its masked read,
      and the new pointer sheds the vector; VACUUM then reclaims the
      pre-purge files. At 100 TB GDPR cadence this turns per-request
      write amplification from k·(table/B) bytes into one metadata
      commit (VERDICT r9 #2). ``max_dv_entries`` caps the vector a
      single delete may record (the triples ride the commit log and
      broadcast to scans — metadata-sized by contract); a bulk
      delete past the cap raises and should use ``mode="rewrite"``.

    Scale contract (both modes): one full-table locate pass
    (predicate pushed into the parquet scan where pushable — same as
    Delta DELETE's find-matching-files scan) whose only driver-side
    result is metadata-sized (bucket set + count; in dv mode the
    matched triples, capped). Buckets with no matches keep their
    pointers, stamps and zone maps untouched — a CDF consumer reads
    only the redacted buckets. Returns ``{"version",
    "deleted_buckets", "deleted_rows"}`` (version unchanged when
    nothing matched; dv mode adds ``"dv_entries"``)."""
    if mode not in ("rewrite", "dv"):
        raise ValueError(f"mode must be 'rewrite' or 'dv', got {mode!r}")
    _validate_merge_args(None, retain_versions)
    lock = _acquire_lock(lake_dir, wait_s=LOCKED_WAIT_S)
    try:
        manifest = _read_manifest(lake_dir)
        if manifest is None:
            raise ValueError(f"lake at {lake_dir} has no manifest to delete from")
        rows = log._read_live(spark, lake_dir, manifest)
        if rows is None:
            return {"version": manifest["version"], "deleted_buckets": 0, "deleted_rows": 0}
        hit = F.expr(predicate) & (F.col("last_type") != F.lit("delete"))
        if mode == "dv":
            return _delete_dv(
                spark, lake_dir, manifest, rows, hit, retain_versions, max_dv_entries
            )
        located = rows.filter(hit).agg(
            F.count(F.lit(1)).alias("n"), F.collect_set("bucket").alias("bs")
        ).first()
        touched = sorted(located["bs"] or [])
        if not touched:
            return {"version": manifest["version"], "deleted_buckets": 0, "deleted_rows": 0}
        extras = _manifest_columns(manifest)
        bucket_rows = log._read_live(spark, lake_dir, manifest, set(touched))
        rewritten = bucket_rows.select(
            "entity_id",
            "last_seq",
            "last_ts",
            F.when(hit, F.lit("delete")).otherwise(F.col("last_type")).alias("last_type"),
            F.when(hit, F.lit(None).cast("string")).otherwise(F.col("item")).alias("item"),
            "bucket",
            *[
                F.when(hit, F.lit(None).cast(c["type"]))
                .otherwise(F.col(c["name"]))
                .alias(c["name"])
                for c in extras
            ],
        ).repartition(len(touched), F.col("bucket"))
        new_manifest = _publish_version(
            lake_dir,
            manifest,
            rewritten,
            touched,
            manifest["n_buckets"],
            retain_versions,
            max_records_per_file=max_records_per_file,
            data_change=True,
        )
        return {
            "version": int(new_manifest["version"]),
            "deleted_buckets": len(touched),
            "deleted_rows": int(located["n"]),
        }
    finally:
        try:
            os.remove(lock)
        except FileNotFoundError:
            pass


def _delete_dv(
    spark, lake_dir: str, manifest: dict, rows, hit, retain_versions: int,
    max_dv_entries: int,
) -> dict:
    """The deletion-vector commit (see ``delete_from_lake``): collect
    the matched rows' identifying triples (driver-side, capped —
    vectors are commit-log metadata by contract), union them into the
    touched buckets' existing vectors, and flip a pointer-preserving
    data-change commit that writes no data files. Runs under the
    caller's writer lock."""
    matched = rows.filter(hit).select(
        "bucket", "entity_id", "last_seq",
        F.date_format(
            F.col("last_ts").cast("timestamp_ntz"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
        ).alias("ts_iso"),
    ).limit(max_dv_entries + 1).collect()
    if not matched:
        return {
            "version": manifest["version"], "deleted_buckets": 0,
            "deleted_rows": 0, "dv_entries": 0,
        }
    if len(matched) > max_dv_entries:
        raise ValueError(
            f"DELETE mode='dv' matched more than max_dv_entries="
            f"{max_dv_entries} rows — deletion vectors are commit-log "
            "metadata and must stay metadata-sized; use mode='rewrite' "
            "for bulk deletes (or raise the cap deliberately)"
        )
    base_dvs = manifest.get("deletion_vectors", {})
    new_by_bucket: dict = {}
    for r in matched:
        new_by_bucket.setdefault(str(r["bucket"]), []).append(
            [r["entity_id"], int(r["last_seq"]), r["ts_iso"]]
        )
    dvs = {}
    for b, entries in new_by_bucket.items():
        merged = {tuple(e) for e in base_dvs.get(b, [])}
        merged.update(tuple(e) for e in entries)
        dvs[b] = sorted([list(e) for e in merged])
    touched = sorted(int(b) for b in dvs)
    # pointer-preserving touch: same rels, data_change stamps move
    # (readers and OCC must see the content change), zero data bytes
    touched_rels = {str(b): manifest["buckets"][str(b)] for b in touched}
    new_manifest = _flip_version(
        lake_dir,
        manifest,
        commit_rel="",
        touched=[],
        n_buckets=manifest["n_buckets"],
        retain_versions=retain_versions,
        extra={
            "delete_dv": {
                "version": manifest["version"] + 1,
                "entities": len(matched),
            }
        },
        data_change=True,
        touched_rels=touched_rels,
        deletion_vectors=dvs,
    )
    return {
        "version": int(new_manifest["version"]),
        "deleted_buckets": len(touched),
        "deleted_rows": len(matched),
        "dv_entries": sum(len(v) for v in dvs.values()),
    }


def add_constraint(
    spark, lake_dir: str, name: str, expr: str, retain_versions: int = 2
) -> dict:
    """ALTER TABLE ... ADD CONSTRAINT ... CHECK — record a SQL
    predicate every future merge batch's visible rows must satisfy
    (enforced at write time by ``merge._validated_touched``; SQL-standard
    semantics — NULL passes, only FALSE violates). Like Delta, the
    EXISTING table is validated first (one scan of the visible rows —
    the honest cost of promising the invariant holds), then the
    constraint set is published as a METADATA-ONLY commit. A
    concurrent optimistic merge staged against the pre-constraint
    manifest detects the changed set at flip time and recomputes —
    re-validating under the new constraints — so no unvalidated batch
    can slip past the add."""
    if not name or not isinstance(name, str):
        raise ValueError(f"constraint name must be a non-empty string, got {name!r}")
    if not expr or not isinstance(expr, str):
        raise ValueError(f"constraint expr must be a non-empty SQL string, got {expr!r}")
    _validate_merge_args(None, retain_versions)
    lock = _acquire_lock(lake_dir, wait_s=LOCKED_WAIT_S)
    try:
        manifest = _read_manifest(lake_dir)
        if manifest is None:
            raise ValueError(f"lake at {lake_dir} has no manifest to constrain")
        cons = dict(manifest.get("constraints", {}))
        if cons.get(name) == expr:
            return {"version": int(manifest["version"]), "constraints": cons}
        if name in cons:
            raise ValueError(
                f"constraint {name!r} already exists as {cons[name]!r}; "
                "drop it first (constraints never mutate in place)"
            )
        live = log._read_live(spark, lake_dir, manifest)
        if live is not None:
            n_bad = (
                live.filter(F.col("last_type") != "delete")
                .filter(~F.coalesce(F.expr(expr), F.lit(True)))
                .count()
            )
            if n_bad:
                raise ConstraintViolationError(
                    f"cannot add constraint {name!r} ({expr!r}): {n_bad} existing "
                    "visible row(s) violate it"
                )
        cons[name] = expr
        new_manifest = _flip_version(
            lake_dir,
            manifest,
            commit_rel="",
            touched=[],
            n_buckets=manifest["n_buckets"],
            retain_versions=retain_versions,
            extra={"constraints": cons},
            data_change=False,  # pure metadata: CDF consumers skip it
            touched_rels={},
        )
        return {"version": int(new_manifest["version"]), "constraints": cons}
    finally:
        try:
            os.remove(lock)
        except FileNotFoundError:
            pass


def drop_constraint(lake_dir: str, name: str, retain_versions: int = 2) -> dict:
    """ALTER TABLE ... DROP CONSTRAINT — metadata-only commit
    removing one CHECK predicate; unknown names are a no-op returning
    the live version (Delta's IF EXISTS posture)."""
    _validate_merge_args(None, retain_versions)
    lock = _acquire_lock(lake_dir, wait_s=LOCKED_WAIT_S)
    try:
        manifest = _read_manifest(lake_dir)
        if manifest is None:
            raise ValueError(f"lake at {lake_dir} has no manifest")
        cons = dict(manifest.get("constraints", {}))
        if name not in cons:
            return {"version": int(manifest["version"]), "constraints": cons}
        del cons[name]
        new_manifest = _flip_version(
            lake_dir,
            manifest,
            commit_rel="",
            touched=[],
            n_buckets=manifest["n_buckets"],
            retain_versions=retain_versions,
            extra={"constraints": cons},
            data_change=False,
            touched_rels={},
        )
        return {"version": int(new_manifest["version"]), "constraints": cons}
    finally:
        try:
            os.remove(lock)
        except FileNotFoundError:
            pass


def rename_lake_column(
    lake_dir: str, old: str, new: str, retain_versions: int = 2
) -> dict:
    """ALTER TABLE ... RENAME COLUMN — a METADATA-ONLY commit (zero
    data bytes; Delta column-mapping's rename posture, VERDICT r9
    'schema evolution beyond accretion'). The epoch entry keeps its
    type and gains the former name as an ``alias``; data files are
    untouched — files written before the rename carry the column
    under the old name, files written after under the new, and the
    read side resolves them with an exact coalesce
    (``log._align_extras``: each file has the column under exactly
    ONE of its names). Old retained versions still time-travel under
    their own pre-rename epoch.

    Only ACCRETED extra columns rename (the five core envelope
    columns are the table's contract). The former name stays
    RESERVED: a later batch writing under it, or a new column taking
    it, is refused at merge time (old files' data would silently
    resurrect into the wrong column otherwise). Renaming BACK to a
    former name of the same column is allowed — the coalesce chain
    covers every epoch's files either way. A rename is refused while
    any CHECK constraint references the old name (the recorded SQL
    would silently start evaluating against nothing); drop or
    re-add the constraint around the rename."""
    import re

    from .merge import _validate_extra_cols

    _validate_merge_args(None, retain_versions)
    _validate_extra_cols((new,))  # identifier shape + core/internal collisions
    lock = _acquire_lock(lake_dir, wait_s=LOCKED_WAIT_S)
    try:
        manifest = _read_manifest(lake_dir)
        if manifest is None:
            raise ValueError(f"lake at {lake_dir} has no manifest")
        cols = [dict(c) for c in _manifest_columns(manifest)]
        target = next((c for c in cols if c["name"] == old), None)
        if target is None:
            known = [c["name"] for c in cols]
            raise ValueError(
                f"no extra column {old!r} to rename (accreted columns: "
                f"{known}; core envelope columns never rename)"
            )
        if new == old:
            return {"version": int(manifest["version"]), "columns": cols}
        for c in cols:
            if c is target:
                continue
            if new == c["name"] or new in c.get("aliases", ()):
                raise ValueError(
                    f"cannot rename {old!r} to {new!r}: the name belongs to "
                    f"column {c['name']!r} (current or former — old files "
                    "still carry data under former names)"
                )
        for cname, cexpr in (manifest.get("constraints") or {}).items():
            # Spark resolves identifiers case-insensitively by default
            # (spark.sql.caseSensitive=false), so a constraint written
            # as 'SHARD > 0' binds to column `shard` — the interlock
            # must match case-variant references too.
            if re.search(rf"\b{re.escape(old)}\b", cexpr, re.IGNORECASE):
                raise ValueError(
                    f"cannot rename {old!r}: CHECK constraint {cname!r} "
                    f"({cexpr!r}) references it — drop the constraint, "
                    "rename, then re-add it against the new name"
                )
        if new in log._dropped_names(manifest):
            raise ValueError(
                f"cannot rename {old!r} to {new!r}: the name belonged to a "
                "DROPPED column and stays quarantined — old files still "
                "carry the dead column's data under it"
            )
        target["aliases"] = sorted(
            (set(target.get("aliases", ())) | {old}) - {new}
        )
        target["name"] = new
        # reconcile the declared stats_columns in the SAME metadata
        # flip: a declaration left under the former name would make
        # every later OPTIMIZE adopt a dead identifier and silently
        # stop recording zone maps for the renamed column
        stats_cols = [
            new if s == old else s
            for s in manifest.get("stats_columns", ())
        ]
        bloom_cols = [
            new if s == old else s
            for s in manifest.get("bloom_columns", ())
        ]
        new_manifest = _flip_version(
            lake_dir,
            manifest,
            commit_rel="",
            touched=[],
            n_buckets=manifest["n_buckets"],
            retain_versions=retain_versions,
            extra={
                "columns": cols,
                "rename": {"from": old, "to": new},
                "stats_columns": stats_cols,
                "bloom_columns": bloom_cols,
            },
            data_change=False,  # pure metadata: CDF consumers skip it
            touched_rels={},
        )
        return {"version": int(new_manifest["version"]), "columns": cols}
    finally:
        try:
            os.remove(lock)
        except FileNotFoundError:
            pass


def drop_lake_column(
    lake_dir: str, name: str, retain_versions: int = 2
) -> dict:
    """ALTER TABLE ... DROP COLUMN — a METADATA-ONLY commit (zero data
    bytes; Delta column-mapping's drop posture, VERDICT r10 #3),
    completing the rename surface's one-way schema lifecycle. The
    column leaves the epoch's ``columns`` record, so every read of
    the NEW version simply stops requesting it (the explicit
    requested-schema read never opens the dead bytes); data files are
    untouched, and retained PRE-drop versions still time-travel with
    the column under their own epoch.

    The alias-safety argument, RE-PROVEN for drop: ``_align_extras``'
    coalesce is exact because any name ever written denotes exactly
    one column's data. A drop does not release names — the dropped
    column's ENTIRE name set (current name + rename aliases) moves to
    the manifest's ``dropped`` quarantine (``log._dropped_names``):
    a later batch accreting under a quarantined name, or a rename
    taking one, is refused at merge/rename time, because old files
    still carry the dead column's values under those names and would
    resurrect them into the newcomer on read. There is no un-drop.

    CDF across the drop: the drop commit itself is ``data_change=
    False`` (CDF consumers skip it, like RENAME); a change feed whose
    bounds SPAN the drop compares both endpoints under the TO-side
    epoch, so the dropped column is absent from the diff — consumers
    tracking it must read the pre-drop versions while retention
    covers them. Only ACCRETED extra columns drop (the five core
    envelope columns are the table's contract). A drop is refused
    while a CHECK constraint references the column (case-insensitive,
    like the rename interlock). The next OPTIMIZE/compaction rewrite
    materializes the current epoch and physically sheds the dead
    bytes. Returns ``{"version", "columns", "dropped"}``."""
    import re

    _validate_merge_args(None, retain_versions)
    lock = _acquire_lock(lake_dir, wait_s=LOCKED_WAIT_S)
    try:
        manifest = _read_manifest(lake_dir)
        if manifest is None:
            raise ValueError(f"lake at {lake_dir} has no manifest")
        cols = [dict(c) for c in _manifest_columns(manifest)]
        target = next((c for c in cols if c["name"] == name), None)
        if target is None:
            known = [c["name"] for c in cols]
            raise ValueError(
                f"no extra column {name!r} to drop (accreted columns: "
                f"{known}; core envelope columns never drop)"
            )
        for cname, cexpr in (manifest.get("constraints") or {}).items():
            for n in log._column_names(target):
                if re.search(rf"\b{re.escape(n)}\b", cexpr, re.IGNORECASE):
                    raise ValueError(
                        f"cannot drop {name!r}: CHECK constraint {cname!r} "
                        f"({cexpr!r}) references it — drop the constraint "
                        "first"
                    )
        cols.remove(target)
        dropped = [dict(c) for c in manifest.get("dropped", [])]
        dropped.append(
            {
                "name": target["name"],
                "type": target["type"],
                "aliases": sorted(target.get("aliases", ())),
            }
        )
        new_manifest = _flip_version(
            lake_dir,
            manifest,
            commit_rel="",
            touched=[],
            n_buckets=manifest["n_buckets"],
            retain_versions=retain_versions,
            extra={
                "columns": cols,
                "dropped": dropped,
                "drop": {"column": name},
                # a dropped column leaves the stats/bloom declarations
                # too — otherwise later OPTIMIZEs carry a dead name
                # forever
                "stats_columns": [
                    s
                    for s in manifest.get("stats_columns", ())
                    if s not in log._column_names(target)
                ],
                "bloom_columns": [
                    s
                    for s in manifest.get("bloom_columns", ())
                    if s not in log._column_names(target)
                ],
            },
            data_change=False,  # pure metadata: CDF consumers skip it
            touched_rels={},
        )
        return {
            "version": int(new_manifest["version"]),
            "columns": cols,
            "dropped": dropped,
        }
    finally:
        try:
            os.remove(lock)
        except FileNotFoundError:
            pass


def clone_lake(src_dir: str, dst_dir: str, version: int | None = None) -> dict:
    """SHALLOW CLONE — a zero-copy fork of the table at a version:
    the clone is a fresh lake whose version-1 commit repoints every
    bucket at the SOURCE's data directories by absolute path; no data
    bytes move. Writes to the clone are copy-on-write at bucket
    granularity — a merge/compact/delete repoints only its touched
    buckets at clone-local commit dirs, untouched buckets keep
    reading the source's files — and never touch the source (the
    clone's GC collects only clone-local dirs: absolute references
    are structurally outside its ``commits/`` namespace). The clone
    starts its own history at version 1 (expressed as an ordinary
    ``replace_all`` commit-log delta, so readers, CDF, OCC and GC
    need no special casing), carrying the source's schema epoch and
    zone maps (they describe exactly the referenced files).

    Retention (round 12 — STRONGER than Delta's shallow clone, whose
    hazard is documented-unguarded): the clone registers a PIN in the
    source (``_clones/<digest>.json``, the version it forked from),
    and the source's retention honors it with the same two guards
    catalog membership gets — per-commit GC clamps its floor to the
    oldest pinned version (``log._clone_min_referenced``), and an
    explicit ``vacuum_lake`` on the source REFUSES to cross a live
    pin. The pin SELF-HEALS: once the clone stops referencing the
    source (compacted local with pre-compaction versions aged out, or
    deleted outright), the next retention check drops it — and
    ``detach_clone`` is the explicit/coordinated release (verify-
    then-unpin, or ``force=True``). The escape for a long-lived fork:
    compact the clone (a full physical rewrite localizes every
    bucket), vacuum its pre-compaction versions, detach. Returns
    ``{"version": 1, "n_buckets", "cloned_from"}``."""
    import time

    src_abs = os.path.abspath(src_dir)
    dst_abs = os.path.abspath(dst_dir)
    # resolve + PIN under the source's writer lock: a vacuum running
    # concurrently must either see the pin or finish before the
    # resolve — never expire the version between the two
    lock = _acquire_lock(src_abs, wait_s=LOCKED_WAIT_S)
    try:
        m = _manifest_at(src_abs, version)
        if m is None:
            raise ValueError(f"lake at {src_dir} has no manifest to clone")
        os.makedirs(dst_dir, exist_ok=True)
        if _read_pointer(dst_dir) is not None:
            raise ValueError(f"clone destination {dst_dir} is already a lake")
        os.makedirs(os.path.join(src_abs, log.CLONES_DIR), exist_ok=True)
        _atomic_write_json(
            log._clone_pin_path(src_abs, dst_abs),
            {
                "clone": dst_abs,
                "version": int(m["version"]),
                "created_at": time.time(),
            },
        )
    finally:
        try:
            os.remove(lock)
        except FileNotFoundError:
            pass
    touched = {
        b: rel if os.path.isabs(rel) else os.path.join(src_abs, rel)
        for b, rel in m["buckets"].items()
    }
    # TRANSITIVE pins (round 13, ADVICE r12 #3): when the source is
    # itself a shallow clone, its manifest carries ABSOLUTE pointers
    # into its own ancestors — and this clone copies them verbatim,
    # so it reads those ancestors DIRECTLY. The immediate-parent pin
    # alone would let an ancestor reclaim such files the moment the
    # parent compacts local and its own pin self-heals. Every
    # distinct external root named by a copied absolute pointer
    # therefore gets its own pin, at the oldest commit-dir version
    # the pointers name (retaining that version keeps the named dirs
    # alive — GC preserves dirs any retained manifest references).
    # Written under each ancestor's writer lock so a concurrent
    # vacuum either sees the pin or finished before we resolved; the
    # in-flight grace window covers the pin-before-dst-commit gap.
    external: dict[str, int] = {}
    for abs_rel in touched.values():
        head, sep, tail = os.path.abspath(abs_rel).partition(
            os.sep + "commits" + os.sep
        )
        if not sep or head == src_abs:
            continue
        try:
            ver = int(tail.split(os.sep, 1)[0])
        except ValueError:
            ver = 1  # unparseable commit dir: pin from the beginning
        external[head] = min(external.get(head, ver), ver)
    for root, ver in sorted(external.items()):
        xlock = _acquire_lock(root, wait_s=LOCKED_WAIT_S)
        try:
            os.makedirs(os.path.join(root, log.CLONES_DIR), exist_ok=True)
            _atomic_write_json(
                log._clone_pin_path(root, dst_abs),
                {"clone": dst_abs, "version": ver, "created_at": time.time()},
            )
        finally:
            try:
                os.remove(xlock)
            except FileNotFoundError:
                pass
    extra: dict = {"cloned_from": {"source": src_abs, "version": int(m["version"])}}
    if m.get("columns"):
        extra["columns"] = list(m["columns"])
    # CHECK constraints and writer-txn watermarks carry for the same
    # reason deletion vectors do: dropping constraints would let a
    # merge into the clone commit rows the source's CHECK forbids,
    # and dropping watermarks would make a txn-marked writer resumed
    # against the clone re-apply batches already in the cloned data
    if m.get("constraints"):
        extra["constraints"] = dict(m["constraints"])
    if m.get("txns"):
        extra["txns"] = dict(m["txns"])
    delta = {
        "format": 2,
        "version": 1,
        "n_buckets": m["n_buckets"],
        "replace_all": True,
        "touched": touched,
        "data_change": True,
        "extra": extra,
        "committed_at": _next_commit_stamp(None),
    }
    if m.get("file_stats"):
        delta["file_stats"] = {
            b: st for b, st in m["file_stats"].items() if b in touched
        }
    if m.get("deletion_vectors"):
        # the clone reads the SOURCE's files, so the source's read-
        # time redactions must ride along (dropping them would
        # resurrect redacted content in the fork)
        delta["deletion_vectors"] = {
            b: v for b, v in m["deletion_vectors"].items() if b in touched
        }
    manifest = _apply_delta(None, delta)
    os.makedirs(os.path.join(dst_dir, LOG_DIR), exist_ok=True)
    _atomic_write_json(_checkpoint_path(dst_dir, 1), manifest, sync_dir=True)
    _atomic_write_json(_delta_path(dst_dir, 1), delta, sync_dir=True)
    log._commit_manifest(dst_dir, {"format": 2, "version": 1, "floor": 1})
    return {
        "version": 1,
        "n_buckets": int(m["n_buckets"]),
        "cloned_from": extra["cloned_from"],
    }


def detach_clone(src_dir: str, dst_dir: str, force: bool = False) -> dict:
    """Release a shallow clone's retention pin on its source — the
    coordinated end of the clone lifecycle (``clone_lake`` registers
    the pin; retention honors it; this removes it). REFUSES while any
    retained version of the clone still reads the source's files by
    absolute reference (detaching then would re-open the exact
    unreadable-fork hazard the pin exists to close): compact the
    clone first (``compact_lake(dst, target_files_per_bucket=0)``
    localizes every bucket) and vacuum its pre-compaction versions,
    then detach. ``force=True`` is the explicit acceptance of the
    hazard — the operator severs the pin knowing the next source
    vacuum may break the clone. A pin whose clone was deleted is
    always removable (and retention self-heals it anyway). Returns
    ``{"detached": bool, "was_referencing": bool}``."""
    src_abs = os.path.abspath(src_dir)
    dst_abs = os.path.abspath(dst_dir)
    lock = _acquire_lock(src_abs, wait_s=LOCKED_WAIT_S)
    try:
        path = log._clone_pin_path(src_abs, dst_abs)
        if not os.path.exists(path):
            return {"detached": False, "was_referencing": False}
        referencing = log._clone_still_references(src_abs, dst_abs)
        if referencing and not force:
            raise ValueError(
                f"detach_clone: the clone at {dst_dir} still references "
                f"{src_dir}'s files (a retained clone version carries "
                "absolute pointers into it) — compact the clone to localize "
                "its buckets and vacuum its pre-compaction versions first, "
                "or pass force=True to accept that the next source vacuum "
                "may break the clone"
            )
        os.remove(path)
        return {"detached": True, "was_referencing": referencing}
    finally:
        try:
            os.remove(lock)
        except FileNotFoundError:
            pass
