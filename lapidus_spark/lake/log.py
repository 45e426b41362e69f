"""Lake commit-log plane: the manifest pointer, the incremental
commit log (deltas + checkpoints), version resolution, the writer
lock, GC, the commit publish/stage/flip machinery, and the
manifest-resolved read path. Bottom layer of the ``lapidus_spark.
lake`` package — imports nothing from its siblings.

Split out of ``streaming/materialize.py`` (round 10); the facade
there re-exports every name, so existing imports keep working.
Design docstrings cite the reference where semantics derive from it
(e.g. the no-loss-after-ack contract, src/postgresql.js:290-354).
"""

from __future__ import annotations

import glob
import json
import os
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: physical layout key for the lake snapshot: hash-bucket of the
#: entity id. At 100 TB this is the table's partition/cluster key —
#: a micro-batch rewrites only the buckets its keys fall in, and a
#: point lookup prunes to one bucket. The count is a FIXED property
#: of a given lake's layout (the hash derivation must never change
#: under a table once written — the manifest persists it and
#: ``merge_batch_into_lake`` raises on mismatch); it is the knob that
#: makes merge cost proportional to the BATCH, not the table: a batch
#: touching k of B buckets reads+rewrites k·(table/B) — size B so
#: that a typical batch's keys land in a small fraction of buckets
#: (experiments/merge_scaling.py measures the curve). 8 suits the
#: ~6k-entity replay fixture; a 100 TB table wants 10^4-10^5.
MERGE_LAKE_BUCKETS = 8

#: the lake's commit POINTER — a tiny JSON file (format 2: just
#: ``{"format": 2, "version": V, "floor": F}``) flipped atomically
#: (tmp + fsync + rename). The rename IS the commit: readers and the
#: merge's own read-back resolve data through it, so files not yet
#: named by a committed version do not exist as far as the table is
#: concerned. The resolved manifest CONTENT (bucket pointers, stamps,
#: zone maps) lives in the incremental commit log under ``_log/`` —
#: see ``LOG_DIR`` — so the per-commit metadata write is O(touched
#: buckets), never O(all buckets + all files).
MANIFEST_NAME = "_lapidus_manifest.json"

#: the incremental commit log (Delta's ``_delta_log`` analog): one
#: ``<version>.json`` DELTA entry per commit — only the touched
#: bucket pointers, their dataChange stamps, and any file stats for
#: exactly those buckets — plus a periodic ``<version>.checkpoint
#: .json`` holding the fully-resolved manifest (every
#: ``CHECKPOINT_EVERY``-th version, and always at version 1). A
#: reader resolves version V from the newest checkpoint ≤ V plus
#: ≤CHECKPOINT_EVERY small delta replays. This is what makes the
#: metadata plane scale: at 10^5 buckets / 10^6 files, a commit
#: writes bytes proportional to the BATCH (touched buckets), the
#: pointer flip stays one tiny rename, and only every K-th commit
#: pays the amortized full checkpoint.
LOG_DIR = "_log"
CHECKPOINT_EVERY = 8

#: write-side name of the bucket partition column. partitionBy drops
#: its column from the data files, and readers resolve bucket dirs
#: directly from the manifest (no partition-inference root), so the
#: merge writes the bucket TWICE: as data column ``bucket`` (survives
#: in the files) and as partition column ``pb`` (drives the one-job
#: split into per-bucket directories).
_PARTITION_COL = "pb"

#: single-writer guard: the merge takes a lock file for the duration
#: of a commit, published via os.link of a pre-written body (atomic
#: create-with-content — no reader can see a torn lock) with the
#: holder's pid recorded, so a crashed holder's lock is detected as
#: stale (dead pid, same host) and broken by an atomic tombstone
#: rename (one winner among racing breakers). Cross-host writers on
#: shared storage cannot check liveness and fail closed; that
#: deployment wants a real table format's commit service or an
#: external lock.
LOCK_NAME = "_lapidus_lock.json"

#: fault-injection point for crash tests: set the env var
#: LAPIDUS_FAILPOINT=<name>[:<nth>] in a *subprocess* and the process
#: SIGKILLs itself at the nth traversal of that failpoint — a genuine
#: kill-mid-commit, not an exception the code could catch.
_FAILPOINT_HITS: dict[str, int] = {}


class ConcurrentMergeError(RuntimeError):
    """Another live writer holds the lake's merge lock."""


class CommitConflictError(RuntimeError):
    """An optimistic merge lost every retry to concurrent commits
    that data-changed its buckets (or to a held flip lock)."""


class ConstraintViolationError(RuntimeError):
    """A merge batch carries visible rows that fail a table CHECK
    constraint — the commit is refused, the table unchanged."""


#: How long LOCKED writers (merge_batch_into_lake, compact_lake,
#: rebucket_lake) re-contend for the writer lock before raising
#: ConcurrentMergeError. Nonzero so a locked daemon's micro-batch
#: rides out an optimistic sibling's flip-lock hold (a JSON rename
#: plus GC, milliseconds) instead of dying on a transient — a LIVE
#: long holder (another locked writer mid-merge) still raises, just
#: after the wait. Streaming sinks rely on this: the CLI's
#: ``--optimistic`` contract is that a running locked daemon keeps
#: committing while an optimistic writer flips.
LOCKED_WAIT_S = 5.0

#: Unreferenced ``commits/`` dirs younger than this are NOT garbage:
#: an optimistic writer stages its commit directory BEFORE taking the
#: flip lock, so a concurrent committer's GC must leave fresh staged
#: dirs alone (a crashed writer's orphan ages past the grace and is
#: collected by any later commit — same shape as Delta VACUUM's
#: retention window protecting in-flight, not-yet-committed files).
GC_GRACE_SECONDS = 3600.0

#: catalog-plane filenames (defined HERE, the dependency-free bottom
#: layer, so both ``catalog`` above and the retention guards below
#: can see them without an import cycle): a lake whose PARENT
#: directory carries the catalog pointer is a catalog member, and its
#: retention floor must never rise past the oldest table version a
#: retained catalog entry still references.
CATALOG_POINTER = "_lapidus_catalog.json"
CATALOG_LOG = "_catalog_log"


def _catalog_min_referenced(lake_dir: str) -> int | None:
    """The oldest version of THIS lake that a retained catalog entry
    references, or None when the lake is not a catalog member (no
    catalog pointer in the parent directory, or no retained entry
    names the table). O(retained catalog entries) tiny JSON reads —
    metadata-sized, driver-side. Fail-closed: an unreadable entry
    counts as referencing version 1 (better to retain too much than
    to break ``read_catalog_table`` for a snapshot we cannot prove
    unreferenced)."""
    root = os.path.abspath(lake_dir).rstrip(os.sep)
    parent, table = os.path.dirname(root), os.path.basename(root)
    try:
        with open(os.path.join(parent, CATALOG_POINTER)) as f:
            pointer = json.load(f)
    except (FileNotFoundError, NotADirectoryError):
        return None
    except (OSError, ValueError):
        return 1  # torn catalog pointer: fail closed
    live = int(pointer["version"])
    floor = int(pointer.get("floor", 1))
    mins = []
    for v in range(floor, live + 1):
        try:
            with open(
                os.path.join(parent, CATALOG_LOG, f"{v:010d}.json")
            ) as f:
                entry = json.load(f)
        except FileNotFoundError:
            continue  # already vacuumed below a newer floor
        except (OSError, ValueError):
            return 1  # unreadable retained entry: fail closed
        if table in entry.get("tables", {}):
            mins.append(int(entry["tables"][table]))
    return min(mins) if mins else None


#: shallow-clone pin registry inside the SOURCE lake (round 12,
#: VERDICT r11 #3): each clone_lake registers the version it forked
#: from, and the source's retention (per-commit GC floor clamp +
#: vacuum interlock — the same two guards catalog membership gets)
#: must never expire a version a LIVE clone still reads through.
CLONES_DIR = "_clones"

#: in-flight-clone grace window (round 13, ADVICE r12 #1):
#: ``clone_lake`` writes the pin under the source lock but commits
#: the clone's own manifest/pointer AFTER releasing it; in that
#: window the clone looks deleted (``_read_pointer(dst) is None``)
#: and the self-heal would drop the just-written pin — letting a
#: concurrent merge's GC (or vacuum) reclaim the pinned version's
#: files before the clone finishes. A pin younger than this grace is
#: therefore fail-closed: kept even when the clone cannot be proven
#: to reference the source. Clone commits are driver-side JSON
#: writes (milliseconds); minutes of grace is orders of magnitude of
#: headroom, and an abandoned pin still self-heals right after it.
CLONE_PIN_GRACE_S = 900.0


def _clone_pin_path(src_dir: str, dst_abs: str) -> str:
    import hashlib

    digest = hashlib.md5(dst_abs.encode("utf-8")).hexdigest()[:16]
    return os.path.join(src_dir, CLONES_DIR, f"{digest}.json")


def _clone_still_references(src_root: str, dst: str) -> bool:
    """Does the clone at ``dst`` still read any of this source's files
    — i.e. does ANY of its retained manifest versions carry a bucket
    pointer that is an absolute path under ``src_root``? A fully
    compacted clone whose pre-compaction versions aged out references
    nothing and its pin is stale. Fail-closed: an unresolvable clone
    log keeps the pin (better to retain too much than to break a fork
    we cannot prove detached); a DELETED clone (no pointer) is stale."""
    pointer = _read_pointer(dst)
    if pointer is None:
        return False  # clone deleted / never materialized: stale pin
    live = int(pointer["version"])
    floor = int(pointer.get("floor", 1))
    prefix = os.path.abspath(src_root).rstrip(os.sep) + os.sep
    for v in range(floor, live + 1):
        try:
            m = _resolve_version(dst, pointer, v)
        except Exception:  # noqa: BLE001 — unresolvable: fail closed
            return True
        for rel in m["buckets"].values():
            if os.path.isabs(rel) and os.path.abspath(rel).startswith(prefix):
                return True
    return False


def _clone_min_referenced(lake_dir: str) -> int | None:
    """The oldest version of THIS lake a LIVE shallow clone still
    pins, or None when nothing pins it. O(pins × retained clone
    versions) tiny JSON reads — metadata-sized, driver-side.
    SELF-HEALING: a pin whose clone was deleted or no longer
    references this lake (compacted local + old versions vacuumed)
    is removed on the spot, so an abandoned fork never permanently
    blocks retention. Fail-closed twice over: a torn pin counts as
    referencing version 1, and a pin younger than
    ``CLONE_PIN_GRACE_S`` is kept even when the clone looks absent —
    ``clone_lake`` commits the clone's pointer AFTER releasing the
    source lock, so a brand-new pin with no destination pointer is
    most likely an in-flight clone, not a deleted one (ADVICE r12)."""
    import time

    root = os.path.abspath(lake_dir).rstrip(os.sep)
    d = os.path.join(root, CLONES_DIR)
    try:
        pins = sorted(fn for fn in os.listdir(d) if fn.endswith(".json"))
    except (FileNotFoundError, NotADirectoryError):
        return None
    mins = []
    for fn in pins:
        path = os.path.join(d, fn)
        try:
            with open(path) as f:
                pin = json.load(f)
            dst, ver = str(pin["clone"]), int(pin["version"])
        except (OSError, ValueError, KeyError, TypeError):
            mins.append(1)  # torn pin: fail closed
            continue
        if _clone_still_references(root, dst):
            mins.append(ver)
            continue
        if _read_pointer(dst) is None:
            # no destination pointer: either a deleted fork (stale)
            # or a clone_lake still between pin-write and its own
            # manifest commit (LIVE — the pointer lands milliseconds
            # later). Distinguish by pin age, fail-closed on young
            # (negative age = clock skew: also keep).
            try:
                age = time.time() - float(pin.get("created_at", 0.0))
            except (TypeError, ValueError):
                age = float("inf")
            if age < CLONE_PIN_GRACE_S:
                mins.append(ver)
                continue
        try:
            os.remove(path)
        except OSError:
            mins.append(ver)
    return min(mins) if mins else None


def _failpoint(name: str) -> None:
    spec = os.environ.get("LAPIDUS_FAILPOINT", "")
    if not spec:
        return
    target, _, nth = spec.partition(":")
    if target != name:
        return
    _FAILPOINT_HITS[name] = _FAILPOINT_HITS.get(name, 0) + 1
    if _FAILPOINT_HITS[name] >= int(nth or "1"):
        import signal

        os.kill(os.getpid(), signal.SIGKILL)


def _retired_layout(lake_dir: str, layout: str, detail: str) -> ValueError:
    """The refusal of the two layouts written before the commit log
    (round 9): ``layout`` is ``"pre-manifest layout"`` (root
    ``bucket=K`` dirs, no pointer) or ``"format-1 monolithic
    manifest"`` (the bucket map inside the pointer, retained versions
    under ``_history/``)."""
    return ValueError(
        f"lake at {lake_dir} has the {layout} ({detail}), which is no "
        "longer supported; rebuild the table into a new lake"
    )


def _read_pointer(lake_dir: str) -> dict | None:
    """Raw commit-pointer JSON ``{format, version, floor}``, or None
    for a lake with no manifest yet — the one place every open of a
    lake goes through. Refuses the two layouts written before the
    commit log (``_retired_layout``): a pointer carrying ``buckets``
    is the format-1 monolithic manifest, and root ``bucket=K`` dirs
    with no pointer are the pre-manifest layout (treating that table
    as empty would let the next commit replace it and GC its files).
    The dir is listed only when the pointer is absent. What such a
    lake left inside a format-2 log is refused where a version is
    resolved (``_refuse_carried_layout``)."""
    try:
        with open(os.path.join(lake_dir, MANIFEST_NAME)) as f:
            pointer = json.load(f)
    except FileNotFoundError:
        if glob.glob(os.path.join(glob.escape(lake_dir), "bucket=*")):
            raise _retired_layout(
                lake_dir, "pre-manifest layout",
                f"root bucket= dirs, no {MANIFEST_NAME}",
            ) from None
        return None
    if "buckets" in pointer:
        raise _retired_layout(
            lake_dir, "format-1 monolithic manifest",
            f"the bucket map inside {MANIFEST_NAME}",
        )
    return pointer


def _refuse_carried_layout(lake_dir: str, manifest: dict) -> None:
    """Refuse a resolved version that still carries a retired layout
    under a format-2 pointer — what adopting a pre-manifest lake or
    migrating a format-1 one in place left in the log: a bucket
    pointing at a root ``bucket=K`` dir (current writers point every
    bucket at a ``commits/`` dir, or at an absolute path for a
    shallow clone) or a bare-list ``entity_id`` zone map (current
    ones map column → range). One pass over the just-parsed maps; no
    filesystem call."""
    for b, rel in manifest["buckets"].items():
        if not (rel.startswith("commits/") or os.path.isabs(rel)):
            raise _retired_layout(
                lake_dir, "pre-manifest layout",
                f"version {manifest['version']} points bucket {b} at the "
                f"root dir {rel}",
            )
    for b, files in manifest.get("file_stats", {}).items():
        if not all(isinstance(e, dict) for e in files.values()):
            raise _retired_layout(
                lake_dir, "format-1 monolithic manifest",
                f"version {manifest['version']} carries a bare-list zone "
                f"map for bucket {b}",
            )


def _delta_path(lake_dir: str, version: int) -> str:
    return os.path.join(lake_dir, LOG_DIR, f"{version:010d}.json")


def _checkpoint_path(lake_dir: str, version: int) -> str:
    return os.path.join(lake_dir, LOG_DIR, f"{version:010d}.checkpoint.json")


def _checkpoint_versions(lake_dir: str) -> list[int]:
    """Sorted versions with a checkpoint in ``_log/`` (driver-side
    listing, proportional to retained log entries)."""
    try:
        names = os.listdir(os.path.join(lake_dir, LOG_DIR))
    except FileNotFoundError:
        return []
    return sorted(
        int(n.split(".", 1)[0]) for n in names if n.endswith(".checkpoint.json")
    )


def _apply_delta(base: dict | None, delta: dict) -> dict:
    """Fold one commit-log delta entry onto a resolved manifest — THE
    definition of what a commit changes, shared by the writer (which
    derives the next live manifest from it) and readers (which replay
    deltas from a checkpoint). Only the delta's ``touched`` buckets'
    pointers / stamps / stats move; a ``replace_all`` delta (rebucket)
    starts the maps fresh because bucket ids change meaning."""
    version = delta["version"]
    replace_all = delta.get("replace_all", False)
    new_manifest: dict = {
        "format": 2,
        "version": version,
        "n_buckets": delta["n_buckets"],
        "buckets": {} if replace_all or base is None else dict(base["buckets"]),
    }
    if "committed_at" in delta:  # the version's own commit instant
        new_manifest["committed_at"] = delta["committed_at"]
    # the last-compaction record, the schema epoch, the constraint
    # set, the writer-txn watermarks and the clone provenance carry
    # through merges (a rebucket drops the compaction record: layout
    # changed; provenance stays — buckets may still reference the
    # source by absolute path, the dependency operators must track)
    if base is not None:
        if not replace_all and "compaction" in base:
            new_manifest["compaction"] = base["compaction"]
        for carried in (
            "columns", "constraints", "txns", "cloned_from", "dropped",
            "stats_columns", "bloom_columns",
        ):
            if carried in base:
                new_manifest[carried] = base[carried]
    if delta.get("extra"):
        new_manifest.update(delta["extra"])
    if delta.get("txn"):
        # first-class MERGE into the map (never a wholesale replace
        # via extra): an optimistic REBASE applies this delta onto a
        # manifest that moved under the staging, and a sibling app's
        # watermark recorded in between must survive the flip
        app, txv = delta["txn"]
        txns = dict(new_manifest.get("txns", {}))
        txns[app] = txv
        new_manifest["txns"] = txns
    data_versions = (
        {} if replace_all or base is None else dict(base.get("data_versions", {}))
    )
    zone_maps = (
        {} if replace_all or base is None else dict(base.get("file_stats", {}))
    )
    # deletion vectors (redaction masks applied at read time — see
    # ``_apply_dv_mask``): carried per bucket; a bucket whose POINTER
    # moves sheds its vector — every rewrite path reads through the
    # mask, so the new files have the redactions materialized as
    # physical tombstones. A DV-delete commit keeps the pointer and
    # carries the bucket's full (unioned) vector in the delta.
    dvs = {} if replace_all or base is None else dict(base.get("deletion_vectors", {}))
    for b, rel in delta["touched"].items():
        pointer_moved = base is None or base.get("buckets", {}).get(b) != rel
        if pointer_moved:
            dvs.pop(b, None)  # mask materialized by the rewrite
            zone_maps.pop(b, None)  # old files' stats are stale
        # pointer-preserving touch (a DV delete): the files — and
        # therefore their zone maps — are untouched; only the stamps
        # and the vector move. Masked rows stay physically present,
        # so the ranges remain truthful.
        new_manifest["buckets"][b] = rel
        if delta["data_change"]:
            data_versions[b] = version
    if delta.get("file_stats"):
        zone_maps.update(delta["file_stats"])
    if delta.get("deletion_vectors"):
        dvs.update(delta["deletion_vectors"])
    dvs = {b: v for b, v in dvs.items() if v}  # empty vector == no vector
    new_manifest["data_versions"] = data_versions
    if zone_maps:
        new_manifest["file_stats"] = zone_maps
    if dvs:
        new_manifest["deletion_vectors"] = dvs
    return new_manifest


def _no_retained_version(lake_dir: str, version: int, live) -> ValueError:
    return ValueError(
        f"lake at {lake_dir} has no retained version {version} "
        f"(live is {live if live is not None else 'absent'}; older versions "
        "exist only inside the merge's retain_versions horizon)"
    )


def _resolve_version(
    lake_dir: str, pointer: dict, version: int, _retry: bool = True
) -> dict:
    """Resolve a committed version of a lake: newest
    checkpoint ≤ version, then replay the ≤CHECKPOINT_EVERY delta
    entries up to it. Versions below the pointer's retention ``floor``
    fail fast (their log entries and data are GC'd). A version that
    still carries a retired layout (``_refuse_carried_layout``), or
    that exists only as a format-1 ``_history/`` copy, is refused.

    Reader-vs-GC contract: the log is listed and read with no lock, so
    a concurrent committer's GC can prune entries a slightly-stale
    pointer still references. A missing entry therefore re-reads the
    pointer ONCE and re-resolves — if retention moved past the target,
    that surfaces as the honest retention error; only a miss that
    persists under the fresh pointer is reported as corruption."""
    live_v = int(pointer["version"])
    if version > live_v or version < 1:
        raise _no_retained_version(lake_dir, version, live_v)
    if version < int(pointer.get("floor", 1)):
        raise _no_retained_version(lake_dir, version, live_v)
    try:
        # no checkpoint ≤ version: version 0's path fails the open
        # below as a missing entry, like any pruned one
        cp = max(
            (v for v in _checkpoint_versions(lake_dir) if v <= version), default=0
        )
        with open(_checkpoint_path(lake_dir, cp)) as f:
            manifest = json.load(f)
        for v in range(cp + 1, version + 1):
            with open(_delta_path(lake_dir, v)) as f:
                manifest = _apply_delta(manifest, json.load(f))
    except FileNotFoundError as e:
        if _retry:
            fresh = _read_pointer(lake_dir)
            if fresh is not None:
                return _resolve_version(lake_dir, fresh, version, _retry=False)
        if os.path.exists(os.path.join(lake_dir, "_history", f"{version:010d}.json")):
            # a version from before an in-place format-1 migration:
            # it was never written to the log
            raise _retired_layout(
                lake_dir, "format-1 monolithic manifest",
                f"version {version} is retained only under _history/",
            ) from None
        raise ValueError(
            f"lake at {lake_dir}: commit log is missing an entry needed to "
            f"resolve version {version} ({e.filename}) — log corrupted "
            "(partial restore, manual deletion?)"
        ) from None
    _refuse_carried_layout(lake_dir, manifest)
    return manifest


def _read_manifest(lake_dir: str) -> dict | None:
    """The LIVE resolved manifest (None when the lake has none),
    resolved through the commit log: one checkpoint +
    ≤CHECKPOINT_EVERY small deltas — the Delta log/checkpoint read
    path."""
    return _manifest_at(lake_dir, None)


def _manifest_at(lake_dir: str, version: int | None) -> dict | None:
    """Manifest for a specific committed version (None → live),
    resolved through the commit log; unretained versions fail fast
    and explicitly."""
    pointer = _read_pointer(lake_dir)
    if pointer is None:
        if version is None:
            return None
        raise _no_retained_version(lake_dir, version, None)
    return _resolve_version(
        lake_dir, pointer, int(pointer["version"]) if version is None else version
    )


def _atomic_write_json(path: str, obj: dict, sync_dir: bool = False) -> None:
    """The one stage-fsync-rename JSON writer: stage next to the
    target, fsync the bytes, one atomic ``os.replace``; with
    ``sync_dir`` also fsync the containing directory so the rename
    itself survives power loss (a SIGKILL can't lose a rename, but
    an unjournaled directory entry can). The staged temp is removed
    on any failure — no leaked ``.tmp`` files."""
    d = os.path.dirname(path)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(obj, f, sort_keys=True, indent=1)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
        if sync_dir:
            dfd = os.open(d, os.O_RDONLY)
            try:
                os.fsync(dfd)
            finally:
                os.close(dfd)
    except BaseException:
        try:
            os.remove(tmp)
        except OSError:
            pass
        raise


def _acquire_lock(lake_dir: str, wait_s: float = 0.0) -> str:
    """Take the single-writer merge lock, re-contending against LIVE
    holders for up to ``wait_s`` seconds (optimistic writers use this
    for the manifest flip — the critical section is a JSON rename,
    so a short bounded wait rides out another writer's flip instead
    of failing; the default 0 keeps the classic fail-fast posture).
    See ``_acquire_lock_once`` for the lock protocol itself."""
    import time

    deadline = time.monotonic() + wait_s
    while True:
        try:
            return _acquire_lock_once(lake_dir)
        except ConcurrentMergeError:
            if time.monotonic() >= deadline:
                raise
            time.sleep(0.05)


def _acquire_lock_once(lake_dir: str) -> str:
    """Take the single-writer merge lock. The lock body is staged in
    a private temp file and PUBLISHED with ``os.link`` — atomic
    create-with-content, so a reader can never observe a torn or
    empty lock from a live writer (an unreadable lock is therefore
    always a crashed one). A lock whose recorded pid is dead on THIS
    host is stale (a SIGKILLed writer) and is broken by an atomic
    rename to a unique tombstone — of N racing breakers exactly one
    wins the rename, the losers see FileNotFoundError and re-contend
    on the link, so two writers can never both hold the lock. A live
    holder — or any holder on another host, whose liveness we cannot
    check — raises ``ConcurrentMergeError`` so writers never
    interleave read-back and flip (lost-update protection)."""
    import socket

    os.makedirs(lake_dir, exist_ok=True)
    path = os.path.join(lake_dir, LOCK_NAME)
    me = {"pid": os.getpid(), "host": socket.gethostname()}
    fd, tmp = tempfile.mkstemp(dir=lake_dir, suffix=".lock.tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(me, f)
        for _attempt in range(3):
            try:
                os.link(tmp, path)
                return path
            except FileExistsError:
                try:
                    with open(path) as f:
                        holder = json.load(f)
                except (OSError, ValueError):
                    holder = None  # unreadable ⇒ crashed writer (see above)
                if holder is not None and holder.get("host") == me["host"]:
                    try:
                        os.kill(int(holder["pid"]), 0)
                        alive = True
                    except (ProcessLookupError, ValueError):
                        alive = False
                    except PermissionError:
                        alive = True
                    if alive:
                        raise ConcurrentMergeError(
                            f"lake at {lake_dir} is locked by live writer "
                            f"pid {holder['pid']} ({LOCK_NAME})"
                        ) from None
                elif holder is not None:
                    raise ConcurrentMergeError(
                        f"lake at {lake_dir} is locked by writer on host "
                        f"{holder.get('host')!r}; cross-host liveness is "
                        "unknowable on plain files — break the lock manually "
                        f"or use an external commit service ({LOCK_NAME})"
                    ) from None
                # stale: break via atomic rename (single winner), retry
                tomb = os.path.join(lake_dir, f"{LOCK_NAME}.stale.{os.getpid()}")
                try:
                    os.rename(path, tomb)
                    os.remove(tomb)
                except FileNotFoundError:
                    pass  # another breaker won the rename; re-contend
        raise ConcurrentMergeError(f"could not acquire {path}")
    finally:
        try:
            os.remove(tmp)
        except FileNotFoundError:
            pass


def _commit_manifest(lake_dir: str, pointer: dict) -> None:
    """THE commit point: stage the new commit POINTER next to the old
    one, fsync, one atomic ``os.replace``, then fsync the lake
    directory so the rename itself is journaled — without the
    directory fsync a power loss (not a mere crash) after the flip
    could resurrect the old pointer while the source has already
    acked the batch. Every byte of merged data AND every commit-log
    entry is written before this runs (data-file sync rides on
    Spark's committer / the filesystem; log entries are fsynced by
    ``_atomic_write_json``); a crash anywhere before the replace
    leaves the previous version — and therefore the previous table
    contents — fully intact, with any orphan log entries above it
    overwritten by the next committer."""
    _failpoint("lake_merge.before_manifest_flip")
    _atomic_write_json(
        os.path.join(lake_dir, MANIFEST_NAME), pointer, sync_dir=True
    )


#: substrings identifying a missing-input failure surfacing from the
#: JVM (Spark wraps the executor's FileNotFoundException in analysis /
#: Py4J error text) — the signature of the documented GC-vs-read race.
_MISSING_FILE_MARKERS = (
    "FileNotFoundException",
    "FILE_NOT_FOUND",
    "PATH_NOT_FOUND",
    "No such file",
    "does not exist",
)


def _is_missing_file_error(exc: BaseException) -> bool:
    """Is this the GC-vs-read race (a concurrent committer collected
    files the unlocked staging was reading)? Only such failures are
    worth retrying against a fresh manifest — a deterministic staging
    failure (schema bug, bad input) must surface immediately instead
    of burning retries and masquerading as a commit conflict."""
    if isinstance(exc, FileNotFoundError):
        return True
    msg = str(exc)
    return any(m in msg for m in _MISSING_FILE_MARKERS)


def _newest_mtime(root: str) -> float:
    """Newest mtime anywhere under ``root`` (inclusive): the liveness
    signal for an in-flight staging, since writes inside subdirs do
    not touch the top-level directory's own mtime."""
    newest = os.stat(root).st_mtime
    for dirpath, dirnames, filenames in os.walk(root):
        for name in dirnames + filenames:
            try:
                newest = max(newest, os.stat(os.path.join(dirpath, name)).st_mtime)
            except OSError:
                continue
    return newest


def _gc_unreferenced(
    lake_dir: str,
    manifest: dict,
    retain_versions: int = 1,
    grace_seconds: float | None = None,
) -> None:
    """Best-effort removal of commit dirs that no RETAINED version
    references (orphans from crashed merges, versions beyond the
    retention horizon), plus pruning of commit-log entries below the
    newest checkpoint ≤ the retention floor — so an expired
    time-travel read fails fast instead of hitting missing files.
    Runs only AFTER a successful flip; deletes only paths no retained
    version names. Failures are swallowed — an orphan is wasted
    space, never wrong data. Unreferenced commit dirs younger than
    ``grace_seconds`` (default ``GC_GRACE_SECONDS``) are spared: they
    may be an optimistic writer's staged-not-yet-flipped commit."""
    import shutil

    if grace_seconds is None:
        grace_seconds = GC_GRACE_SECONDS

    # Collect the retained manifests FAIL-CLOSED: if any retained
    # version cannot be resolved, skip GC entirely — deleting from an
    # under-filled retained set would destroy data still inside the
    # retention horizon (an orphan is wasted space; a deleted
    # retained version is wrong data). Only the deletions themselves
    # are best-effort.
    pointer = _read_pointer(lake_dir)
    if pointer is None:
        return  # only the flip calls GC; a torn state fails closed
    floor, live_v = int(pointer.get("floor", 1)), int(pointer["version"])
    retained = []
    try:
        # forward fold: resolve the floor once (one checkpoint read),
        # then apply each retained delta exactly once — O(retained)
        # small reads, not O(retained × checkpoint) re-resolutions
        m = None
        for v in range(floor, live_v + 1):
            if v == manifest["version"]:
                m = manifest
            elif m is not None:
                with open(_delta_path(lake_dir, v)) as f:
                    m = _apply_delta(m, json.load(f))
            else:
                m = _resolve_version(lake_dir, pointer, v)
            retained.append(m)
    except (OSError, ValueError):
        return
    # prune the log below the newest checkpoint ≤ floor (everything at
    # or above it is needed to resolve the floor version)
    cp_floor = max((v for v in _checkpoint_versions(lake_dir) if v <= floor), default=None)
    log_root = os.path.join(lake_dir, LOG_DIR)
    try:
        if cp_floor is not None:
            for fn in os.listdir(log_root):
                if fn.endswith(".json") and int(fn.split(".", 1)[0]) < cp_floor:
                    os.remove(os.path.join(log_root, fn))
    except (OSError, ValueError):
        pass
    live_commits = {
        p.split("/", 2)[1]
        for m in retained
        for p in m["buckets"].values()
        if p.startswith("commits/")
    }
    try:
        for d in _reclaimable_commit_dirs(lake_dir, live_commits, grace_seconds):
            shutil.rmtree(os.path.join(lake_dir, "commits", d), ignore_errors=True)
    except OSError:
        pass


def _reclaimable_commit_dirs(
    lake_dir: str, live_commits: set, grace_seconds: float
) -> list[str]:
    """Commit dirs under ``commits/`` that no retained manifest
    references and the staging grace does not spare — the ONE
    enumeration shared by the post-flip GC and the explicit VACUUM
    (including its dry run), so the report and the deletions can
    never drift. Grace applies to OPTIMISTIC commit dirs only
    (nonce-suffixed names): such a dir may be a concurrent writer's
    staged-not-yet-flipped commit — staging runs outside the lock —
    so only ones older than the grace are certainly crashed-writer
    orphans. A live staging keeps SOME entry fresh (Spark writes
    land in pb=K/_temporary subtrees, which do NOT bump the
    top-level dir's mtime — so take the newest mtime in the whole
    tree, a walk bounded by the orphan's own file count).
    Locked-path dirs (plain zero-padded names) are never in flight
    outside the lock and reclaim immediately."""
    import time

    commits_root = os.path.join(lake_dir, "commits")
    try:
        names = sorted(os.listdir(commits_root))
    except FileNotFoundError:
        return []
    now = time.time()
    out = []
    for d in names:
        if d in live_commits:
            continue
        if "." in d:
            try:
                if now - _newest_mtime(os.path.join(commits_root, d)) < grace_seconds:
                    continue
            except OSError:
                continue
        out.append(d)
    return out


def _live_paths(lake_dir: str, manifest: dict | None, buckets=None) -> list[str]:
    """The sorted bucket dirs of ``buckets`` (all live buckets when
    None); each carries ``bucket`` as a data column."""
    if manifest is None:
        return []
    return sorted(
        os.path.join(lake_dir, rel)
        for b, rel in manifest["buckets"].items()
        if buckets is None or int(b) in buckets
    )


_LAKE_COLS = ["entity_id", "last_seq", "last_ts", "last_type", "item", "bucket"]

#: the footer key under which Spark's parquet writer stores the
#: written DataFrame's schema as JSON (``ParquetReadSupport.
#: SPARK_METADATA_KEY``); its schema inference reads it back first
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _epoch_core_types(lake_dir: str, manifest: dict | None):
    """The lake epoch's ``(last_ts, item)`` Spark DDL types, from ONE
    live footer, session-less — the one type probe behind the merge,
    the ``format("lake")`` relations and the ``df.write`` combine.
    Spark's stored schema (``_footer_schema``) wins where the footer
    has it: pyarrow reads Spark's INT96 ``timestamp`` as a zone-less
    ``timestamp[ns]``, so the Arrow view alone would call an LTZ lake
    NTZ. Footers without Spark's key (Arrow-written files from before
    the writer stamped it, foreign files) map through
    ``lake_batch._ddl_of_arrow``. A merge whose pruned read comes back
    empty still stamps its rows at these types — defaulting to NTZ
    against an LTZ epoch would commit a mixed physical timestamp type
    later full-table reads cannot union. ``None`` only when the lake
    has no live file at all (no epoch yet; the caller's default
    applies)."""
    import pyarrow.parquet as pq

    from lapidus_spark.sources.lake_batch import _ddl_of_arrow

    for d in _live_paths(lake_dir, manifest):
        try:
            names = sorted(n for n in os.listdir(d) if n.endswith(".parquet"))
            if not names:
                continue
            path = os.path.join(d, names[0])
            spark_schema = _footer_schema(path)
            if spark_schema is not None:
                types = {f.name: f.dataType.simpleString() for f in spark_schema}
            else:
                arrow = pq.read_schema(path)
                types = {
                    n: _ddl_of_arrow(arrow.field(n).type)
                    for n in ("last_ts", "item")
                    if n in arrow.names
                }
        except FileNotFoundError:
            continue  # vacuum-raced dir: probe the next one
        if "last_ts" in types and "item" in types:
            return types["last_ts"], types["item"]
    return None


def _manifest_columns(manifest: dict | None) -> list[dict]:
    """The lake's evolved-schema epoch: columns ACCRETED beyond the
    core five-column envelope, as ``[{"name", "type"}]`` in accretion
    order. Recorded in the manifest by the evolving commit and carried
    forward by ``_apply_delta``, so every retained version reads under
    its own schema (time travel to a pre-evolution version returns the
    pre-evolution shape)."""
    return list((manifest or {}).get("columns", []))


def _column_names(c: dict) -> list[str]:
    """All names a column has ever been written under: its current
    logical name first, then former names recorded by RENAME commits
    (``aliases``). Any given FILE carries the column under exactly one
    of these (the logical name at that file's write time), so a
    coalesce across them is exact — a former name can never denote a
    different column's data because every name ever used stays
    reserved: rename aliases against re-use at merge time, and DROP
    COLUMN quarantines the dropped column's whole name set
    (``_dropped_names``) instead of releasing it."""
    return [c["name"], *c.get("aliases", ())]


def _dropped_names(manifest: dict | None) -> set[str]:
    """Every name a DROPPED column was ever written under — the
    quarantine set (VERDICT r10 #3): old data files still carry data
    under these names, so a NEW column (accretion or rename target)
    taking one would silently resurrect the dead column's values into
    it on read. One-way by design; there is no un-drop."""
    return {
        n
        for c in (manifest or {}).get("dropped", [])
        for n in _column_names(c)
    }


def _align_extras(df: DataFrame, extras: list[dict]) -> DataFrame:
    """Align a frame to the schema epoch: null-fill declared extra
    columns the frame predates (files written before a schema
    evolution lack the accreted columns — Delta/parquet schema-
    evolution read semantics), CAST present ones up to the epoch's
    type (a batch declaring int into a bigint-widened column, or a
    pre-widening file read outside the explicit-schema path), resolve
    RENAMED columns (files written before a rename carry the former
    name — ``aliases``; coalesce is exact because each file has the
    column under exactly one name), then project the canonical column
    order. The cast is a no-op when types already match; a frame
    already in the canonical shape of an extra-less epoch is returned
    as is (no projection to analyze — both sides of every unevolved
    merge)."""
    if not extras and df.columns == _LAKE_COLS:
        return df
    have = set(df.columns)
    aligned = []
    for c in extras:
        present = [n for n in _column_names(c) if n in have]
        if not present:
            aligned.append(F.lit(None).cast(c["type"]).alias(c["name"]))
        elif len(present) == 1:
            aligned.append(F.col(present[0]).cast(c["type"]).alias(c["name"]))
        else:
            aligned.append(
                F.coalesce(*[F.col(n).cast(c["type"]) for n in present]).alias(
                    c["name"]
                )
            )
    return df.select(*_LAKE_COLS, *aligned)


def _footer_schema(path: str):
    """The Spark schema of the parquet at ``path`` (a data file, or a
    commit dir — then its first data file by name), read on the driver
    from ONE footer: the schema Spark itself stored under
    ``_SPARK_ROW_METADATA`` at write time, made nullable as Spark's
    file relation makes every inferred data schema. Spark's own
    inference prefers that same key when present, so this equals
    ``spark.read.parquet(path).schema`` without the inference job.
    Returns ``None`` when the footer carries no Spark key (Arrow-
    written ``format("lake")`` files, foreign files) or the dir holds
    no data file — callers then keep Spark's inference. A missing
    path raises ``FileNotFoundError`` (never a silent fallback), so
    ``_is_missing_file_error`` still classifies the GC-vs-read race."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    if os.path.isdir(path):
        names = sorted(n for n in os.listdir(path) if n.endswith(".parquet"))
        if not names:
            return None
        path = os.path.join(path, names[0])
    stored = (pq.read_metadata(path).metadata or {}).get(_SPARK_ROW_METADATA)
    if stored is None:
        return None
    return StructType.fromJson(json.loads(stored)).toNullable()


def _read_commit_files(spark, manifest: dict | None, paths: list[str]) -> DataFrame:
    """The ONE reader for commit-dir parquet (``_read_live``'s bucket
    dirs and zone-map-kept files alike). Reads under an EXPLICIT
    requested schema taken from the first path's footer
    (``_footer_schema``), so building the read launches no Spark
    schema-inference job; footers without Spark's schema key keep
    Spark's inference. Epochs with accreted columns add the extras at
    their manifest epoch types, because the epoch may contain
    TYPE-WIDENED columns (int→bigint, float→double, decimal precision
    growth): parquet ``mergeSchema`` cannot merge mixed-width footers
    at all, while Spark 4's reader widening promotion reads narrower
    files up to the requested type, and files predating an accretion
    null-fill. Cost: ONE driver-side footer read instead of a Spark
    job (or mergeSchema's all-footers merge) — strictly cheaper at
    any file count."""
    extras = _manifest_columns(manifest)
    core = _footer_schema(paths[0])  # one footer
    if not extras:
        read = spark.read if core is None else spark.read.schema(core)
        return read.parquet(*paths)
    from pyspark.sql.types import StructType

    if core is None:
        core = spark.read.parquet(paths[0]).schema
    core_fields = [f for f in core.fields if f.name in set(_LAKE_COLS)]
    # request every name each column has ever been written under (the
    # current logical name AND rename aliases), all at the epoch type:
    # a file carries exactly one of them populated, the rest null-fill,
    # and _align_extras coalesces them into the logical column
    extra_fields = StructType.fromDDL(
        ", ".join(
            f"{n} {c['type']}" for c in extras for n in _column_names(c)
        )
    ).fields
    have = {f.name for f in core_fields}
    schema = StructType(core_fields + [f for f in extra_fields if f.name not in have])
    return spark.read.schema(schema).parquet(*paths)


def _read_live(
    spark, lake_dir: str, manifest: dict, buckets=None, files=()
) -> DataFrame | None:
    """Manifest-resolved read of the live table (optionally pruned to
    ``buckets`` — path-level pruning, stronger than a pushed filter:
    unreferenced and orphaned files are never opened at all), plus
    ``files``: the kept files of zone-map-pruned buckets
    (``stats._plan_files``), read in the SAME scan as the whole bucket
    dirs and masked by the same deletion vectors. Columns follow THIS
    manifest's schema epoch: accreted columns are null-filled for
    files older than their evolution. ``None`` when nothing is read.

    Evolved epochs read under an EXPLICIT requested schema (see
    ``_read_commit_files``): a partial-bucket evolution leaves the
    manifest pointing at a MIX of pre- and post-evolution commit
    dirs — default schema inference samples ONE data file, which
    would silently null accreted columns (the r9 mergeSchema fix),
    and a TYPE-WIDENED epoch (round 10) mixes physical widths that
    ``mergeSchema`` cannot merge at all; the explicit schema handles
    both (missing columns null-fill, narrower files widen up)."""
    paths = [*_live_paths(lake_dir, manifest, buckets), *files]
    if not paths:
        return None
    df = _align_extras(
        _read_commit_files(spark, manifest, paths), _manifest_columns(manifest)
    )
    return _apply_dv_mask(spark, df, manifest)


def _dv_entries(manifest: dict | None) -> list:
    """Flattened deletion-vector entries ``[entity_id, last_seq,
    last_ts_iso]`` across all buckets of a manifest. Safe to apply
    globally (not per bucket): entity→bucket is functional under the
    pinned layout, so an entry can only ever match rows in its own
    bucket — a global mask is identical to a per-bucket one, so one
    scan mixing whole buckets and zone-map-kept files masks once."""
    return [
        e
        for entries in (manifest or {}).get("deletion_vectors", {}).values()
        for e in entries
    ]


def _apply_dv_mask(spark, df: DataFrame, manifest: dict | None) -> DataFrame:
    """Apply the manifest's deletion vectors at READ time: rows
    matching a recorded ``(entity_id, last_seq, last_ts)`` triple read
    as tombstones (``last_type='delete'``, payload + accreted columns
    nulled) with their LWW position preserved — the same retroactive
    redaction the rewrite-based DELETE materializes physically, minus
    the rewrite (Delta deletion vectors' merge-on-read posture).

    The exact triple match is what scopes the mask to the row version
    the delete SAW: a later, higher-(ts, seq) update for the same
    entity carries a different triple, reads unmasked, and wins the
    LWW combine — redaction never swallows new data. Scale contract:
    the vector set is metadata-sized (bounded by redactions since the
    last OPTIMIZE of those buckets; the writer caps it), broadcast to
    the scan side — a hash probe per row, zero shuffle, zero extra
    I/O."""
    entries = _dv_entries(manifest)
    if not entries:
        return df
    extras = _manifest_columns(manifest)
    # pre-group DRIVER-side to ONE row per entity (an entity redacted,
    # resurrected, and redacted again carries two triples — a bare
    # join would duplicate its physical rows; a Spark groupBy here
    # would add a shuffle exchange to every masked read for a list
    # that is already in driver memory)
    by_entity: dict = {}
    for e in entries:
        by_entity.setdefault(str(e[0]), []).append((int(e[1]), e[2]))
    dv = spark.createDataFrame(
        [(k, v) for k, v in by_entity.items()],
        "entity_id string, __dv_raw array<struct<s:bigint,t:string>>",
    ).select(
        "entity_id",
        F.expr(
            "transform(__dv_raw, e -> struct(e.s AS __dv_seq,"
            " CAST(e.t AS timestamp_ntz) AS __dv_ts))"
        ).alias("__dv"),
    )
    joined = df.join(F.broadcast(dv), "entity_id", "left")
    hit = F.col("__dv").isNotNull() & F.exists(
        "__dv",
        lambda e: (F.col("last_seq") == e["__dv_seq"])
        & (F.col("last_ts").cast("timestamp_ntz").eqNullSafe(e["__dv_ts"])),
    )
    return joined.select(
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
    )


def _validate_merge_args(n_buckets, retain_versions) -> None:
    if n_buckets is not None and (
        isinstance(n_buckets, bool) or not isinstance(n_buckets, int) or n_buckets < 1
    ):
        raise ValueError(f"n_buckets must be a positive int or None, got {n_buckets!r}")
    if (
        isinstance(retain_versions, bool)
        or not isinstance(retain_versions, int)
        or retain_versions < 1
    ):
        raise ValueError(f"retain_versions must be a positive int, got {retain_versions!r}")


def _publish_version(
    lake_dir: str,
    manifest: dict | None,
    rows: DataFrame,
    touched: list,
    n_buckets: int,
    retain_versions: int,
    replace_all: bool = False,
    max_records_per_file: int | None = None,
    extra: dict | None = None,
    data_change: bool = True,
    with_file_stats: bool = False,
    stats_columns: tuple = (),
    txn: tuple | None = None,
    bloom_columns: tuple = (),
    bloom_bits: int | None = None,
) -> dict:
    """The shared publish step of every table-mutating op (merge,
    compact, rebucket): write ``rows`` (bucket column already set) for
    exactly the ``touched`` buckets into a FRESH ``commits/<version>``
    directory — never into live paths, so readers (and a replay after
    a crash) are untouched — then atomically flip the manifest and GC
    beyond the retention horizon.
    ``replace_all`` swaps the ENTIRE bucket map (rebucket: the old
    layout's pointers must not survive) instead of updating the
    touched pointers.

    ``data_change=False`` declares the commit a PURE PHYSICAL rewrite
    (compaction): the touched buckets' pointers move, but their
    ``data_versions`` stamps — the per-bucket last data-changing
    commit, Delta's ``dataChange`` bit at bucket granularity — carry
    through unchanged, so change-feed consumers (``lake_changes``,
    the ``lake_cdf`` streaming source) skip the rewritten buckets
    entirely instead of re-reading them to emit zero rows.

    ``with_file_stats=True`` gathers per-file entity_id zone maps
    from the staged footers (metadata-sized driver work) and records
    them in the manifest — the clustered-compaction path."""
    version = (manifest["version"] if manifest else 0) + 1
    commit_rel = f"commits/{version:010d}"
    _stage_commit(lake_dir, rows, touched, commit_rel, max_records_per_file)
    if with_file_stats:
        # lazy: the zone-map footer reader lives in the read/stats
        # plane (stats.py), which imports this module
        from .stats import _commit_file_stats, _write_bloom_sidecar

        stats = _commit_file_stats(lake_dir, commit_rel, touched, stats_columns)
        if bloom_columns:
            # sidecar into the STAGED dir (invisible until the flip)
            _write_bloom_sidecar(
                rows.sparkSession,
                lake_dir,
                commit_rel,
                touched,
                bloom_columns,
                manifest,
                bloom_bits=bloom_bits,
            )
    else:
        stats = None
    return _flip_version(
        lake_dir,
        manifest,
        commit_rel,
        touched,
        n_buckets,
        retain_versions,
        replace_all=replace_all,
        extra=extra,
        data_change=data_change,
        file_stats=stats,
        txn=txn,
    )


def _stage_commit(
    lake_dir: str,
    rows: DataFrame,
    touched: list,
    commit_rel: str,
    max_records_per_file: int | None = None,
) -> None:
    """Write ``rows`` for exactly the ``touched`` buckets into a fresh
    commit directory — all the Spark work of a commit, none of the
    metadata. Runs OUTSIDE any lock: the directory is invisible until
    a manifest flip references it, and GC's grace window protects it
    from a concurrent committer's cleanup meanwhile."""
    commit_abs = os.path.join(lake_dir, commit_rel)
    writer = rows.selectExpr("*", f"bucket AS {_PARTITION_COL}").write.mode("overwrite")
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.partitionBy(_PARTITION_COL).parquet(commit_abs)
    written = {
        int(d.split("=", 1)[1])
        for d in os.listdir(commit_abs)
        if d.startswith(f"{_PARTITION_COL}=")
    }
    if written != set(touched):  # layout invariant, not reachable in normal runs
        raise RuntimeError(f"publish wrote buckets {written}, expected {sorted(touched)}")


def _flip_version(
    lake_dir: str,
    manifest: dict | None,
    commit_rel: str,
    touched: list,
    n_buckets: int,
    retain_versions: int,
    replace_all: bool = False,
    extra: dict | None = None,
    data_change: bool = True,
    file_stats: dict | None = None,
    touched_rels: dict | None = None,
    txn: tuple | None = None,
    deletion_vectors: dict | None = None,
) -> dict:
    """The metadata half of a commit: build the next manifest on
    ``manifest`` with ``touched`` pointed at ``commit_rel`` (or at the
    explicit bucket→rel map ``touched_rels`` for METADATA-ONLY commits
    — ``restore_lake``/``clone_lake`` repoint buckets at dirs staged
    by EARLIER commits, so there is no single fresh commit_rel), flip
    atomically, GC. Must run under the writer lock.
    ``manifest`` need not be the one the staged rows were computed
    against — an optimistic merge REBASES by flipping onto a newer
    manifest once it has proven (via the ``data_versions`` stamps)
    that no intervening commit data-changed its buckets.

    ``file_stats`` (bucket → file → column ranges) are the zone maps
    a CLUSTERED compaction records for its sorted output; carried
    stats for any ``touched`` bucket are dropped (its pointer left
    the commit the stats describe) and the new entries applied — so
    stats are always truthful for the files the manifest names.

    Commit-log protocol (format 2, all under the writer lock):

    1. build the DELTA entry — touched pointers, stamps, stats; bytes
       proportional to the BATCH, never to the table's bucket or file
       count — and derive the next full manifest from it via
       ``_apply_delta`` (writer and readers share the fold);
    2. write the periodic checkpoint when due (version 1 and every
       ``CHECKPOINT_EVERY``-th commit — a deterministic rule, so a
       crashed writer's orphan checkpoint above the live pointer is
       always overwritten by whoever actually commits that version);
    3. write the delta entry, then atomically flip the pointer (the
       ONE commit point — a crash before it leaves the old version
       fully live, the orphan log entries are overwritten by the
       next committer);
    4. GC data and log beyond the retention floor."""
    version = (manifest["version"] if manifest else 0) + 1
    delta: dict = {
        "format": 2,
        "version": version,
        "n_buckets": n_buckets,
        "replace_all": replace_all,
        "touched": (
            touched_rels
            if touched_rels is not None
            else {str(b): f"{commit_rel}/{_PARTITION_COL}={b}" for b in touched}
        ),
        "data_change": data_change,
        # wall-clock commit instant — TIMESTAMP AS OF's resolution
        # key. Rounded to microseconds so the float survives the
        # ISO-string round trip (DESCRIBE HISTORY prints µs; a stamp
        # with sub-µs residue would parse back strictly smaller and
        # miss its own version). Monotonic vs the base version
        # (coarse clocks and NTP steps must not make "latest version
        # committed ≤ ts" ambiguous; Delta resolves same-instant
        # commits by version order, which the strict increase
        # preserves).
        "committed_at": _next_commit_stamp(
            (manifest or {}).get("committed_at")
        ),
    }
    if extra:
        delta["extra"] = extra
    if file_stats:
        delta["file_stats"] = file_stats
    if txn:
        delta["txn"] = [str(txn[0]), int(txn[1])]
    if deletion_vectors:
        # bucket → full (unioned) triple list; pointer-preserving
        # touched entries carry these instead of new data files
        delta["deletion_vectors"] = deletion_vectors
    new_manifest = _apply_delta(manifest, delta)
    log_dir = os.path.join(lake_dir, LOG_DIR)
    os.makedirs(log_dir, exist_ok=True)
    pointer = _read_pointer(lake_dir)
    prev_floor = 1 if pointer is None else int(pointer.get("floor", 1))
    floor = max(prev_floor, version - retain_versions + 1)
    # catalog-aware floor (VERDICT r10 #2): per-commit GC must never
    # reclaim a table version a retained catalog entry still
    # references — a small writer-side retain_versions silently
    # retains MORE here, so read_catalog_table keeps resolving every
    # retained catalog snapshot
    cat_min = _catalog_min_referenced(lake_dir)
    if cat_min is not None:
        floor = max(prev_floor, min(floor, cat_min))
    # clone-aware floor (round 12, VERDICT r11 #3 — the same posture
    # for shallow clones): per-commit GC must never reclaim a version
    # a LIVE clone still reads through by absolute reference; the pin
    # self-heals once the clone is compacted-local or deleted
    clone_min = _clone_min_referenced(lake_dir)
    if clone_min is not None:
        floor = max(prev_floor, min(floor, clone_min))
    # sync_dir on the log writes: the pointer flip below is dirent-
    # journaled, so the entries it makes reachable must be too — a
    # power loss that kept the flipped pointer but dropped the
    # un-journaled _log/<v>.json rename would leave an unresolvable
    # live version (every read raising "log corrupted")
    if version == 1 or version % CHECKPOINT_EVERY == 0:
        _atomic_write_json(
            _checkpoint_path(lake_dir, version), new_manifest, sync_dir=True
        )
    _atomic_write_json(_delta_path(lake_dir, version), delta, sync_dir=True)
    _commit_manifest(
        lake_dir, {"format": 2, "version": version, "floor": floor}
    )
    _gc_unreferenced(lake_dir, new_manifest, retain_versions)
    return new_manifest


def _epoch_iso(at: float) -> str:
    from datetime import datetime, timezone

    return datetime.fromtimestamp(float(at), tz=timezone.utc).isoformat(
        timespec="microseconds"
    )


def _next_commit_stamp(base_at) -> float:
    """µs-rounded wall clock, strictly greater than the base
    version's stamp (see the ``committed_at`` comment in
    ``_flip_version``)."""
    import time

    at = round(time.time(), 6)
    if base_at is not None and at <= float(base_at):
        at = round(float(base_at) + 1e-6, 6)
    return at


def _bucket_content_changed(m_old: dict | None, m_new: dict, b_str: str) -> bool:
    """Can bucket ``b_str``'s CONTENT differ between two committed
    manifests of the same layout? Pointer equality proves identity
    (commit dirs are immutable). A moved pointer with EQUAL
    ``data_versions`` stamps proves the move came only from
    physical-only commits (compaction) — skip it: this is Delta CDF's
    ``dataChange=false`` skip at bucket granularity, and it is what
    keeps a routine OPTIMIZE from costing every change-feed consumer
    a full re-read of the compacted buckets to emit zero rows. A
    missing stamp on either side (pre-``data_versions`` manifests)
    falls back to the conservative pointer comparison."""
    if m_old is None:
        return True
    # a deletion-vector difference IS a content difference even when
    # the pointer is identical: the files are untouched but the rows
    # READ differently (a DV delete redacts at read time) — CDF must
    # diff the bucket and an OCC merge staged against the pre-DV
    # manifest must recompute
    if m_old.get("deletion_vectors", {}).get(b_str) != m_new.get(
        "deletion_vectors", {}
    ).get(b_str):
        return True
    rel = m_new["buckets"].get(b_str)
    if m_old["buckets"].get(b_str) == rel:
        return False
    dv_new = m_new.get("data_versions", {}).get(b_str)
    dv_old = m_old.get("data_versions", {}).get(b_str)
    if dv_new is not None and dv_old is not None and dv_new == dv_old:
        return False
    return True
