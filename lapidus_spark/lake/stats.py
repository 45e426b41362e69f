"""Lake read/observability plane: snapshot and time-travel reads,
zone-map-pruned point and time-window reads, TIMESTAMP AS OF
resolution, DESCRIBE HISTORY/DETAIL, and the change-data feeds
(entity-state and row-level-with-pre-images). Imports only the
commit-log plane (``log``).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import log
from .log import (
    HISTORY_DIR,
    _align_extras,
    _bucket_content_changed,
    _delta_path,
    _epoch_iso,
    _live_paths,
    _manifest_at,
    _manifest_columns,
    _read_pointer,
)

from .log import _PARTITION_COL

def _ts_iso(v) -> str:
    """Normalize a parquet-footer timestamp stat to a naive-UTC ISO
    string with fixed microsecond precision — lexicographic order ==
    instant order, so zone-map JSON stays engine-portable."""
    from datetime import timezone

    if v.tzinfo is not None:
        v = v.astimezone(timezone.utc).replace(tzinfo=None)
    return v.isoformat(timespec="microseconds")


def _stat_value(v):
    """A footer min/max value in JSON-safe, comparison-faithful form,
    or None when it cannot be trusted for pruning: NaN floats order
    arbitrarily; byte strings decode (or reject); values at/past the
    common 64-byte parquet truncation floor may undershoot the real
    max (dropping a file that holds the value) — conservative
    fallback."""
    import math
    from datetime import datetime

    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) or math.isinf(v) else v
    if isinstance(v, int):
        return v
    if isinstance(v, datetime):
        return _ts_iso(v)
    if isinstance(v, bytes):
        try:
            v = v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, str):
        return None if len(v) >= 64 else v
    return None


def _commit_file_stats(
    lake_dir: str, commit_rel: str, buckets: list, stat_columns: tuple = ()
) -> dict:
    """Per-file zone maps for a staged commit: bucket → file →
    ``{"entity_id": [min, max], "last_ts": [min, max], <declared
    column>: [min, max], ...}``, read from the parquet FOOTERS only
    (driver-side, metadata-sized — proportional to the file count,
    never the data). entity_id ranges are only worth recording for
    CLUSTERED output (compaction sorts each bucket by entity_id, so
    the valve's sequential file splits carry disjoint ranges and a
    point read overlaps ≤1 file per key); last_ts ranges prune
    time-bounded reads (``lake_time_read``) and pay off whenever keys
    correlate with time — unsorted on that axis, they are still
    CORRECT, just possibly wide. ``stat_columns`` (VERDICT r10 #4 —
    Delta's dataSkippingStatsColumns posture) extends the maps to
    DECLARED payload columns under the same contract: ranges are
    exact whatever the physical order, and ``lake_skip_read`` prunes
    files on any mapped column. A file without usable entity_id
    min/max drops the whole bucket's entry; a file without usable
    stats for last_ts or a declared column just omits that column's
    range — readers fall back to reading it, conservative, never
    wrong. Timestamps are stored as naive-UTC ISO strings (fixed
    precision, lexicographically ordered)."""
    import pyarrow.parquet as pq

    out: dict = {}
    for b in buckets:
        d = os.path.join(lake_dir, commit_rel, f"{_PARTITION_COL}={b}")
        stats: dict = {}
        usable = True
        for f in sorted(os.listdir(d)):
            if not f.endswith(".parquet"):
                continue
            md = pq.read_metadata(os.path.join(d, f))
            mins: list = []
            maxs: list = []
            ts_mins: list = []
            ts_maxs: list = []
            ts_usable = True
            col_ranges: dict = {c: ([], [], True) for c in stat_columns}
            for rg in range(md.num_row_groups):
                grp = md.row_group(rg)
                cols = {
                    grp.column(i).path_in_schema: grp.column(i)
                    for i in range(grp.num_columns)
                }
                st = cols["entity_id"].statistics if "entity_id" in cols else None
                if st is None or not st.has_min_max:
                    usable = False
                    break
                # parquet writers may TRUNCATE long binary min/max
                # (a truncated max can undershoot the real one, which
                # would make pruning drop a file that holds the key).
                # Values short of the common 64-byte truncation floor
                # cannot have been truncated; longer ones are rejected
                # — conservative fallback to the full dir.
                if len(str(st.min)) >= 64 or len(str(st.max)) >= 64:
                    usable = False
                    break
                mins.append(st.min)
                maxs.append(st.max)
                ts_st = cols["last_ts"].statistics if "last_ts" in cols else None
                if ts_st is None or not ts_st.has_min_max:
                    ts_usable = False  # fixed-width: no truncation risk
                else:
                    ts_mins.append(ts_st.min)
                    ts_maxs.append(ts_st.max)
                for c in stat_columns:
                    c_mins, c_maxs, c_ok = col_ranges[c]
                    if not c_ok:
                        continue
                    c_st = cols[c].statistics if c in cols else None
                    lo = _stat_value(c_st.min) if c_st and c_st.has_min_max else None
                    hi = _stat_value(c_st.max) if c_st and c_st.has_min_max else None
                    if lo is None or hi is None:
                        # an all-NULL or untrustworthy row group: the
                        # column's range cannot prove absence for this
                        # file — omit it (NULL rows never match a
                        # range predicate, but a missing range must
                        # not be read as "no non-null values")
                        col_ranges[c] = ([], [], False)
                    else:
                        c_mins.append(lo)
                        c_maxs.append(hi)
            if not usable or not mins:
                usable = False
                break
            entry = {"entity_id": [min(mins), max(maxs)]}
            if ts_usable and ts_mins:
                entry["last_ts"] = [_ts_iso(min(ts_mins)), _ts_iso(max(ts_maxs))]
            for c in stat_columns:
                c_mins, c_maxs, c_ok = col_ranges[c]
                if c_ok and c_mins:
                    entry[c] = [min(c_mins), max(c_maxs)]
            stats[f] = entry
        if usable and stats:
            out[str(b)] = stats
    return out


#: per-file Bloom filters (round 12, VERDICT r11 #4 — Delta's
#: bloom-filter-index posture): min/max ranges cannot prune EQUALITY
#: probes on high-cardinality payload columns whose values interleave
#: across files; a per-file Bloom filter can. Recorded by OPTIMIZE
#: for declared ``bloom_columns`` as a SIDECAR per commit dir
#: (``_bloom_index.json``) — DATA-plane like Delta's index files,
#: never log-plane: filter bytes are proportional to the rewritten
#: data (≈2 bytes/row at the default sizing), which must not live in
#: the manifest JSON every reader parses. Lifecycle is automatic: a
#: bucket pointer names its commit dir, the sidecar describes exactly
#: that dir's files, so a merge moving the pointer leaves the old
#: sidecar behind with the old files (still truthful for time travel)
#: and the new dir simply has no filters until the next OPTIMIZE —
#: conservative fallback, never wrong.
BLOOM_HASHES = 2
#: per-file adaptive sizing: m = next power of two ≥ 16·rows (k=2 →
#: ~12.5% bits set at full cardinality → FPR ≈ 1.6%), clamped to
#: [2^13, 2^23] bits (1 KiB–1 MiB bitmap per file per column); files
#: beyond the clamp record nothing (readers fall back whole)
_BLOOM_BITS_PER_ROW = 16
_BLOOM_MIN_BITS = 1 << 13
_BLOOM_MAX_BITS = 1 << 23
BLOOM_SIDECAR = "_bloom_index.json"


def _bloom_probe_bits(value, m: int, k: int) -> list[int] | None:
    """The probe value's bit positions under the build-side hash:
    Spark computes ``pmod(xxhash64(col, CAST(i AS BIGINT)), m)`` per
    hash i — xxhash64 chains arguments (each hashed with the running
    hash as seed, starting at 42) — and this replays it exactly with
    the pure-Python XXH64 (parity with F.xxhash64 pinned in
    tests/test_lake_batch_source.py and tests/test_bloom_skipping.py).
    Integral columns hash their 8-byte little-endian value (the build
    casts to bigint), strings their UTF-8 bytes. Returns None for a
    value type the build side never hashes (probe falls back to the
    ranges), including ints outside int64 — the build can never have
    hashed such a value, so the range path is the correct fallback
    (previously an uncaught driver-side OverflowError, ADVICE r12)."""
    from lapidus_spark.sources.lake_batch import _xxh64

    if isinstance(value, bool) or value is None:
        return None
    if isinstance(value, int):
        try:
            data = value.to_bytes(8, "little", signed=True)
        except OverflowError:
            return None
    elif isinstance(value, str):
        data = value.encode("utf-8")
    else:
        return None
    out = []
    for i in range(k):
        h = _xxh64(data)  # seed 42
        h = _xxh64(i.to_bytes(8, "little", signed=True), seed=h & ((1 << 64) - 1))
        out.append(((h % m) + m) % m)
    return out


def _bloom_might_contain(bloom: dict, value) -> bool:
    """Membership test against a recorded per-file filter — False is
    PROOF of absence (prune the file); True means 'cannot rule out'.
    The filter records the HASHED KIND it was built with (``t``:
    ``string`` or ``bigint``, round 13 — ADVICE r12 #2): a probe
    whose Python type does not match it cannot replay the build-side
    hash (e.g. an int probe against a filter built over doubles) and
    falls back conservative instead of risking a false negative.
    Pre-round-13 sidecars carry no ``t`` and keep the by-value-type
    inference."""
    t = bloom.get("t")
    if t == "bigint" and (isinstance(value, bool) or not isinstance(value, int)):
        return True
    if t == "string" and not isinstance(value, str):
        return True
    bits = _bloom_probe_bits(value, int(bloom["m"]), int(bloom["k"]))
    if bits is None:
        return True  # unprobeable value type: conservative
    bitmap = bytes.fromhex(bloom["hex"])
    return all(bitmap[b >> 3] & (1 << (b & 7)) for b in bits)


def _write_bloom_sidecar(
    spark,
    lake_dir: str,
    commit_rel: str,
    buckets: list,
    bloom_columns: tuple,
    manifest: dict | None,
    bloom_bits: int | None = None,
    k: int = BLOOM_HASHES,
) -> None:
    """Build per-file Bloom filters for the staged commit's declared
    columns and write them as ONE sidecar JSON at the commit-dir root
    (``_bloom_index.json``: ``"bucket=B/file.parquet" → {col: {m, k,
    hex}}``). Runs BEFORE the manifest flip — the dir is invisible
    until the flip, so a crash leaves an orphan dir, never a torn
    index.

    Scale contract: the 64-bit hashes are computed JVM-side
    (``xxhash64(col, i)`` — the exact hash the read side replays in
    pure Python) and each (file, column)'s BITMAP is assembled
    executor-side in one Arrow/numpy pass (``applyInPandas``); the
    driver collects only the finished bitmaps — m/8 bytes per
    file×column, proportional to file count, never to row count.
    Sizing is per-file ADAPTIVE from the staged footers' row counts
    (m = next pow2 ≥ 16·rows, so the filter stays useful at ANY valve
    — the flaw the first cut had: a fixed m went all-dense and
    recorded nothing the moment files grew 10×), clamped to 1 MiB of
    bitmap; files beyond the clamp, or filters that still come out
    majority-dense, record nothing — readers fall back whole,
    conservative, never wrong."""
    if not bloom_columns or not buckets:
        return
    import pyarrow.parquet as pq

    base = os.path.join(lake_dir, commit_rel)
    file_m: dict[str, int] = {}
    for b in buckets:
        d = os.path.join(base, f"{_PARTITION_COL}={b}")
        for fn in sorted(os.listdir(d)):
            if not fn.endswith(".parquet"):
                continue
            rel_key = f"{_PARTITION_COL}={b}/{fn}"
            if bloom_bits is not None:
                file_m[rel_key] = int(bloom_bits)
                continue
            n = pq.read_metadata(os.path.join(d, fn)).num_rows
            m = _BLOOM_MIN_BITS
            while m < n * _BLOOM_BITS_PER_ROW and m < _BLOOM_MAX_BITS:
                m <<= 1
            if n * _BLOOM_BITS_PER_ROW > _BLOOM_MAX_BITS:
                continue  # beyond the clamp: not recorded (fallback)
            file_m[rel_key] = m
    if not file_m:
        return
    df = spark.read.option("basePath", base).parquet(
        *[os.path.join(base, f"{_PARTITION_COL}={b}") for b in buckets]
    )
    # hashed kind per column from the staged files' PHYSICAL schema,
    # not the declared epoch type (ADVICE r12 #2: ``item``'s physical
    # type is producer-defined — an int32 item hashed raw would use
    # Spark's 4-byte hashInt while the probe replays 8-byte hashLong,
    # a FALSE-NEGATIVE factory). Integrals are cast to bigint so both
    # sides hash 8 bytes; strings hash UTF-8 bytes; any other
    # physical type records no filter at all (conservative fallback —
    # float/decimal equality probes stay on the min/max path).
    from pyspark.sql import types as T

    col_kind: dict[str, str] = {}
    for field in df.schema.fields:
        if field.name not in bloom_columns:
            continue
        if isinstance(
            field.dataType, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        ):
            col_kind[field.name] = "bigint"
        elif isinstance(field.dataType, (T.StringType, T.VarcharType, T.CharType)):
            col_kind[field.name] = "string"
    hashes = []
    for c in bloom_columns:
        if c not in col_kind:
            continue
        v = F.col(c).cast("bigint") if col_kind[c] == "bigint" else F.col(c)
        for i in range(k):
            hashes.append(
                F.when(
                    F.col(c).isNotNull(),
                    F.struct(
                        F.lit(c).alias("c"),
                        F.xxhash64(v, F.lit(i).cast("bigint")).alias("h"),
                    ),
                )
            )
    if not hashes:
        return
    def build(pdf):
        import numpy as np
        import pandas as pd

        key, col = pdf["key"].iloc[0], pdf["c"].iloc[0]
        m = file_m.get(key)
        if m is None:
            return pd.DataFrame({"key": [], "c": [], "m": [], "hex": []})
        h = pdf["h"].to_numpy(dtype=np.int64)
        bits = np.mod(np.mod(h, m) + m, m).astype(np.int64)
        bitmap = np.zeros(m >> 3, dtype=np.uint8)
        np.bitwise_or.at(bitmap, bits >> 3, (1 << (bits & 7)).astype(np.uint8))
        if int(np.unpackbits(bitmap).sum()) * 2 > m:
            # majority-dense (low-m override / degenerate data): a
            # filter this loaded cannot prune — record nothing
            return pd.DataFrame({"key": [], "c": [], "m": [], "hex": []})
        return pd.DataFrame(
            {"key": [key], "c": [col], "m": [m], "hex": [bitmap.tobytes().hex()]}
        )

    rows = (
        df.select(
            # input_file_name is a URI; the sidecar key is the last
            # two path segments (bucket=B/file.parquet)
            F.regexp_extract(
                F.input_file_name(), r"([^/]+=[^/]+/[^/]+)$", 1
            ).alias("key"),
            F.explode(F.array(*hashes)).alias("p"),
        )
        .filter(F.col("p").isNotNull())
        .select("key", F.col("p.c").alias("c"), F.col("p.h").alias("h"))
        .groupBy("key", "c")
        .applyInPandas(build, "key string, c string, m long, hex string")
        .collect()
    )
    index: dict = {}
    for r in rows:
        # input_file_name is a URI (file://…); normalize to the same
        # relative key file_m used
        key = r["key"]
        if key not in file_m:
            key = "/".join(key.split("/")[-2:])
        if key not in file_m:
            continue
        index.setdefault(key, {})[r["c"]] = {
            "m": int(r["m"]),
            "k": k,
            "hex": r["hex"],
            "t": col_kind[r["c"]],
        }
    if index:
        log._atomic_write_json(os.path.join(base, BLOOM_SIDECAR), index)


def _load_bloom_index(lake_dir: str, bucket_rel: str) -> dict:
    """The commit dir's bloom sidecar for a manifest bucket pointer
    (``commits/<v>/bucket=B`` → the dir's ``_bloom_index.json``
    filtered to that bucket), ``{}`` when absent — fresh merges and
    pre-bloom commits simply have no filters. Pure file I/O,
    driver-side, one tiny JSON per DISTINCT commit dir (callers
    cache per read)."""
    # a commit-dir pointer is "<root>/<bucket=B>"; a legacy root-dir
    # pointer is a bare "bucket=B" with no slash — it contains
    # "bucket=" too, so the layout guard must key on the SEPARATOR
    # (ADVICE r12 #4: the old substring check passed legacy rels
    # through to a ValueError on the 2-tuple unpack below)
    root, sep, bucket_part = bucket_rel.rpartition("/")
    if not sep or f"{_PARTITION_COL}=" not in bucket_part:
        return {}
    path = os.path.join(lake_dir, root, BLOOM_SIDECAR)
    try:
        with open(path) as fh:
            idx = json.load(fh)
    except (FileNotFoundError, NotADirectoryError, ValueError, OSError):
        return {}
    prefix = bucket_part + "/"
    return {
        key[len(prefix):]: cols
        for key, cols in idx.items()
        if key.startswith(prefix)
    }


def _file_key_range(entry) -> tuple:
    """A zone-map entry's entity_id [min, max] — handles both the
    current dict form and the pre-round-9 bare-list form carried by
    migrated format-1 manifests."""
    return tuple(entry["entity_id"] if isinstance(entry, dict) else entry)


def lake_version_at(lake_dir: str, ts) -> int:
    """TIMESTAMP AS OF resolution: the NEWEST retained version whose
    commit instant is ≤ ``ts`` (Delta's rule; same-instant ties are
    impossible — commit stamps are strictly increasing by
    construction). ``ts`` is a unix-epoch float, a datetime (naive =
    UTC), or an ISO string. Driver-side commit-log reads only,
    O(retained). Fails fast when ``ts`` predates the oldest retained
    commit (its stamp is the earliest instant still resolvable) or
    when the retained range predates commit stamps entirely (a lake
    last written before stamps existed — commit once to stamp it)."""
    from datetime import datetime, timezone

    if isinstance(ts, str):
        ts = datetime.fromisoformat(ts)
    if isinstance(ts, datetime):
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=timezone.utc)
        ts = ts.timestamp()
    pointer = _read_pointer(lake_dir)
    if pointer is None:
        raise ValueError(f"lake at {lake_dir} has no manifest")
    if "buckets" in pointer:
        raise ValueError(
            f"lake at {lake_dir} still carries a format-1 monolithic manifest "
            "(no commit stamps); commit once (merge/compact) to migrate"
        )
    floor, live_v = int(pointer.get("floor", 1)), int(pointer["version"])
    best, earliest = None, None
    for v in range(floor, live_v + 1):
        try:
            with open(_delta_path(lake_dir, v)) as fh:
                at = json.load(fh).get("committed_at")
        except FileNotFoundError:
            continue  # format-1 era of a migrated lake: unstamped
        if at is None:
            continue
        earliest = at if earliest is None else min(earliest, at)
        if at <= ts:
            best = v
    if best is None:
        if earliest is None:
            raise ValueError(
                f"lake at {lake_dir} has no commit stamps in its retained "
                "range (written before TIMESTAMP AS OF existed); commit once "
                "to stamp it"
            )
        raise ValueError(
            f"lake at {lake_dir}: no retained version committed at or before "
            f"{ts} (oldest retained commit is {earliest}; older versions are "
            "GC'd past the retention horizon)"
        )
    return best


def describe_detail(lake_dir: str, version: int | None = None) -> dict:
    """DESCRIBE DETAIL for the lake (the Delta command's analog):
    layout, physical footprint and schema epoch of one committed
    version (live by default) — version, commit instant, bucket
    count, file/byte/row totals, accreted columns, retention floor,
    and clone provenance when present. Bytes come from the
    filesystem, row counts from the parquet FOOTERS — driver-side
    metadata reads proportional to the version's file count, never
    the data (the explicit-command analog of the zone-map
    collection)."""
    import pyarrow.parquet as pq

    manifest = _manifest_at(lake_dir, version)
    if manifest is None:
        raise ValueError(f"lake at {lake_dir} has no manifest to describe")
    pointer = _read_pointer(lake_dir) or {}
    legacy, commits = _live_paths(lake_dir, manifest)
    nfiles = nbytes = nrows = 0
    for d in legacy + commits:
        for f in sorted(os.listdir(d)):
            if not f.endswith(".parquet"):
                continue
            p = os.path.join(d, f)
            nfiles += 1
            nbytes += os.path.getsize(p)
            nrows += pq.read_metadata(p).num_rows
    out = {
        "version": int(manifest["version"]),
        "n_buckets": int(manifest["n_buckets"]),
        "num_files": nfiles,
        "size_bytes": nbytes,
        "num_rows": nrows,  # physical rows incl. tombstones
        "columns": [c["name"] for c in _manifest_columns(manifest)],
        "floor": int(pointer.get("floor", 1)) if "buckets" not in pointer else 1,
    }
    if manifest.get("committed_at") is not None:
        out["committed_at"] = _epoch_iso(manifest["committed_at"])
    if manifest.get("cloned_from"):
        out["cloned_from"] = dict(manifest["cloned_from"])
    if manifest.get("dropped"):
        # quarantined name sets of DROPPED columns (never reusable)
        out["dropped_columns"] = [c["name"] for c in manifest["dropped"]]
    if manifest.get("stats_columns"):
        # declared data-skipping columns (table property; every later
        # OPTIMIZE keeps their per-file zone maps fresh)
        out["stats_columns"] = list(manifest["stats_columns"])
    if manifest.get("bloom_columns"):
        # declared Bloom-filter columns (round 12; sidecar per commit
        # dir, equality-probe file skipping)
        out["bloom_columns"] = list(manifest["bloom_columns"])
    clone_dir = os.path.join(lake_dir, log.CLONES_DIR)
    if os.path.isdir(clone_dir):
        pins = [
            fn for fn in os.listdir(clone_dir) if fn.endswith(".json")
        ]
        if pins:
            # live shallow-clone retention pins (round 12): versions
            # the source's GC/vacuum must not expire
            out["clone_pins"] = len(pins)
    if manifest.get("deletion_vectors"):
        # standing read-time redactions awaiting their OPTIMIZE purge
        out["dv_entries"] = sum(
            len(v) for v in manifest["deletion_vectors"].values()
        )
    return out


def read_lake_snapshot(
    spark, lake_dir: str, buckets=None, version: int | None = None, timestamp=None
) -> DataFrame:
    """Consumer view of the merged lake table, resolved through the
    manifest (orphaned / half-committed files are invisible by
    construction): tombstones filtered (purge semantics). Pass
    ``buckets`` to prune a point read to the key's bucket — path
    pruning, no file outside those buckets is even opened. Pass
    ``version`` to time-travel to an earlier committed snapshot (the
    version must be inside the merge's ``retain_versions`` horizon),
    or ``timestamp`` (TIMESTAMP AS OF — resolved to the newest
    retained version committed at or before it, ``lake_version_at``);
    a version is just a different manifest, so the read plan is
    identical to a live read. Reader-vs-GC contract (same as Delta
    VACUUM): the manifest is resolved at open, so a writer GC'ing
    that version can invalidate an in-flight scan — size
    ``retain_versions`` to cover the longest concurrent reader.
    Falls back to a direct read for pre-manifest lakes."""
    if timestamp is not None:
        if version is not None:
            raise ValueError("pass version or timestamp, not both")
        version = lake_version_at(lake_dir, timestamp)
    manifest = _manifest_at(lake_dir, version)
    if manifest is None:
        if version is not None:
            raise ValueError(f"lake at {lake_dir} has no manifest to time-travel in")
        df = spark.read.parquet(lake_dir)
    else:
        df = log._read_live(spark, lake_dir, manifest, set(buckets) if buckets is not None else None)
        if df is None:
            raise ValueError(f"lake at {lake_dir} has an empty manifest bucket set")
    return df.filter(F.col("last_type") != "delete")


#: canonical snapshot-row schema (what _read_live returns)
_SNAPSHOT_SCHEMA = (
    "entity_id string, last_seq bigint, last_ts timestamp_ntz, "
    "last_type string, item string, bucket int"
)


def _snapshot_schema(extras: list[dict]) -> str:
    """The core snapshot schema extended with a manifest's accreted
    columns — for building empty frames under the right epoch."""
    return _SNAPSHOT_SCHEMA + "".join(f", {c['name']} {c['type']}" for c in extras)


def lake_point_read(
    spark, lake_dir: str, keys: list, version: int | None = None
) -> DataFrame:
    """Pruned point read: hash the requested keys to their buckets
    under the manifest's pinned layout (pure-Python XXH64 on the
    driver, pinned bit-for-bit to Spark's ``pmod(xxhash64, n)`` —
    proportional to the keys you asked for, never the table, and no
    Spark job) and read ONLY those bucket directories, then filter to
    the keys. This is the lookup path a serving layer uses: at 100 TB
    a k-key read opens ≤k·(table/B) bytes regardless of table size,
    and stays correct across ``rebucket_lake`` layout changes because
    the manifest is resolved ONCE and both the bucket computation and
    the read use that same manifest (a rebucket committing between two
    separate resolutions could otherwise prune under the wrong
    layout). Keys hashing to never-written buckets simply contribute
    no rows — the normal missing-key lookup outcome.

    Below the bucket pruning sits FILE pruning: buckets last written
    by a clustered compaction carry per-file entity_id zone maps in
    the manifest (``file_stats``), so only the files whose [min, max]
    range overlaps a requested key are opened — after an OPTIMIZE, a
    key touches ≤1 file of its bucket no matter how many the valve
    split it into. Buckets without stats (fresh merges) read whole,
    conservative."""
    from lapidus_spark.sources.lake_batch import _bucket_of

    manifest = _manifest_at(lake_dir, version)
    if manifest is None:
        raise ValueError(f"lake at {lake_dir} has no manifest for point reads")
    key_strs = [str(k) for k in keys]
    bucket_keys: dict[int, list] = {}
    for k in key_strs:
        bucket_keys.setdefault(_bucket_of(k, manifest["n_buckets"]), []).append(k)
    zone_maps = manifest.get("file_stats", {})
    plain, pruned_files = set(), []
    for b, b_keys in bucket_keys.items():
        stats = zone_maps.get(str(b))
        rel = manifest["buckets"].get(str(b))
        if stats is None or rel is None or rel.startswith("bucket="):
            plain.add(b)  # no stats (or legacy layout): whole bucket
            continue
        # prune each bucket's files against ITS OWN resident keys
        # only — a foreign key's range overlap in another bucket is
        # meaningless (the key cannot live there) and testing it
        # would open up to |keys| files per bucket instead of ≤1 per
        # resident key.
        for f, entry in sorted(stats.items()):
            mn, mx = _file_key_range(entry)
            if any(mn <= k <= mx for k in b_keys):
                pruned_files.append(os.path.join(lake_dir, rel, f))
    extras = _manifest_columns(manifest)
    parts = []
    base = log._read_live(spark, lake_dir, manifest, plain) if plain else None
    if base is not None:
        parts.append(base)  # already schema-epoch aligned
    if pruned_files:
        parts.append(
            # zone-map-pruned files bypass log._read_live, so the
            # shared commit reader (explicit epoch schema: accretion
            # null-fill + type widening) and the deletion-vector mask
            # apply here explicitly (global entity match — see
            # log._dv_entries on why that is identical to per-bucket
            # application)
            log._apply_dv_mask(
                spark,
                _align_extras(
                    log._read_commit_files(spark, manifest, pruned_files), extras
                ),
                manifest,
            )
        )
    if not parts:  # every requested bucket unwritten / fully pruned
        df = spark.createDataFrame([], _snapshot_schema(extras))
    else:
        from functools import reduce

        df = reduce(lambda a, b: a.unionByName(b), parts)
    return df.filter(
        (F.col("last_type") != "delete") & F.col("entity_id").isin(key_strs)
    )


def lake_skip_read(
    spark,
    lake_dir: str,
    ranges: dict,
    version: int | None = None,
    in_values: dict | None = None,
) -> DataFrame:
    """Per-column data skipping (VERDICT r10 #4 — Delta's
    data-skipping read over dataSkippingStatsColumns): consumer-view
    rows satisfying a conjunction of range predicates
    ``{column: (lo, hi)}`` (inclusive bounds; ``None`` = open end;
    equality = ``(v, v)``), opening ONLY the files whose recorded
    [min, max] ranges can overlap EVERY predicate. Below the manifest
    resolution, buckets last written by an OPTIMIZE that declared the
    column in ``stats_columns`` prune at FILE granularity; buckets
    without stats — fresh merges, undeclared columns, a file whose
    footer stats were untrustworthy — read whole, conservative (the
    exact predicate re-applies to every row either way, so pruning is
    purely I/O). Skipping is NULL-safe: a pruned-away file can hide
    only rows that are NULL in some predicate column, and NULL never
    satisfies a range predicate. Predicates accept the payload
    columns (``item``, accreted extras), ``entity_id``, and
    ``last_ts`` (datetime or ISO bounds — the time axis composes into
    the conjunction, pruning against the same per-file last_ts maps
    ``lake_time_read`` uses). Values compare as their storage type
    (numbers numerically, strings lexically). This is the
    secondary-predicate read path at 100 TB: a selective predicate on
    a clustered-correlated column opens a small fraction of each
    bucket instead of the whole table.

    ``in_values`` (round 13, VERDICT r12 #4) adds SET predicates
    ``{column: [v1, .., vk]}`` ("col IN (v1..vk)", conjunctive with
    ``ranges``): the zone path keeps a file only when SOME listed
    value lies inside its [min, max] (strictly stronger than the
    set's [min(v), max(v)] envelope, which a scattered set defeats),
    and a recorded per-file Bloom filter skips the file when EVERY
    listed value misses — each miss is individually proof of absence,
    so the conjunction of misses proves the whole disjunction
    unsatisfiable. NULL-safe for the same reason equality is: IN
    never matches NULL."""
    from datetime import datetime, timezone

    if not isinstance(ranges, dict) or (not ranges and not in_values):
        raise ValueError(
            "lake_skip_read: ranges must be a dict {column: (lo, hi)} "
            "(None = open end), non-empty unless in_values is given"
        )
    manifest = _manifest_at(lake_dir, version)
    if manifest is None:
        raise ValueError(f"lake at {lake_dir} has no manifest for skip reads")
    known = {"entity_id", "item", "last_ts"} | {
        c["name"] for c in _manifest_columns(manifest)
    }

    def norm_ts(v):
        if v is None:
            return None
        if isinstance(v, str):
            v = datetime.fromisoformat(v)
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return v

    # epoch types for typed-bound validation: a bound whose Python
    # type cannot compare with the column's recorded stats (int bound
    # on a string column, or vice versa) must fail as a descriptive
    # ValueError in THIS validation loop, not as an unhandled
    # TypeError inside overlaps() on the driver
    epoch_types = {"entity_id": "string"}
    epoch_types.update(
        {c["name"]: c["type"] for c in _manifest_columns(manifest)}
    )

    def bound_pytypes(sql_type: str):
        base = sql_type.lower().split("(")[0].strip()
        if base in ("string", "varchar", "char"):
            return (str,), "a string"
        if base in (
            "tinyint", "smallint", "int", "integer", "bigint", "long",
            "float", "double", "decimal", "real",
        ):
            return (int, float), "a number"
        if base == "boolean":
            return (bool,), "a boolean"
        return None, None  # item / exotic types: overlaps() guards

    norm: dict[str, tuple] = {}
    for col, bound in ranges.items():
        if col not in known:
            raise ValueError(
                f"lake_skip_read: unknown column {col!r} (known: {sorted(known)})"
            )
        if not isinstance(bound, (tuple, list)) or len(bound) != 2:
            raise ValueError(
                f"lake_skip_read: range for {col!r} must be (lo, hi), "
                f"got {bound!r}"
            )
        lo, hi = bound
        if lo is None and hi is None:
            raise ValueError(f"lake_skip_read: range for {col!r} is fully open")
        if col == "last_ts":
            lo, hi = norm_ts(lo), norm_ts(hi)
        elif col in epoch_types:
            allowed, label = bound_pytypes(epoch_types[col])
            for end, v in (("lo", lo), ("hi", hi)):
                if v is None or allowed is None:
                    continue
                ok = isinstance(v, allowed) and not (
                    allowed == (int, float) and isinstance(v, bool)
                )
                if not ok:
                    raise ValueError(
                        f"lake_skip_read: {end} bound {v!r} for column "
                        f"{col!r} must be {label} (column type "
                        f"{epoch_types[col]!r}) — a mistyped bound cannot "
                        "compare with the recorded file stats"
                    )
        norm[col] = (lo, hi)

    in_norm: dict[str, list] = {}
    for col, vals in (in_values or {}).items():
        if col not in known:
            raise ValueError(
                f"lake_skip_read: unknown column {col!r} (known: {sorted(known)})"
            )
        if not isinstance(vals, (list, tuple, set, frozenset)):
            raise ValueError(
                f"lake_skip_read: in_values for {col!r} must be a "
                f"sequence of values, got {vals!r}"
            )
        vs = [v for v in vals if v is not None]
        if not vs:
            raise ValueError(
                f"lake_skip_read: in_values for {col!r} has no non-null "
                "values (IN never matches NULL — the predicate is "
                "unsatisfiable)"
            )
        if col == "last_ts":
            vs = [norm_ts(v) for v in vs]
        elif col in epoch_types:
            allowed, label = bound_pytypes(epoch_types[col])
            for v in vs:
                if allowed is None:
                    continue
                ok = isinstance(v, allowed) and not (
                    allowed == (int, float) and isinstance(v, bool)
                )
                if not ok:
                    raise ValueError(
                        f"lake_skip_read: IN value {v!r} for column "
                        f"{col!r} must be {label} (column type "
                        f"{epoch_types[col]!r}) — a mistyped value cannot "
                        "compare with the recorded file stats"
                    )
        in_norm[col] = vs
        # fold the set's envelope into the range conjunction so the
        # plain min/max zone test engages even where the per-value
        # test below cannot (e.g. a file without recorded stats for
        # some OTHER conjunct column)
        lo, hi = norm.get(col, (None, None))
        try:
            env_lo, env_hi = min(vs), max(vs)
            if lo is None or env_lo > lo:
                lo = env_lo
            if hi is None or env_hi < hi:
                hi = env_hi
            norm[col] = (lo, hi)
        except TypeError:
            pass  # mixed/incomparable values: envelope skipped, per-value path still applies

    def overlaps(entry: dict, fblooms: dict) -> bool:
        for col, (lo, hi) in norm.items():
            if lo is not None and lo == hi and col in fblooms:
                # EQUALITY probe with a recorded per-file Bloom filter
                # (round 12): min/max cannot prune a high-cardinality
                # probe whose value interleaves across files; the
                # filter can — a miss is proof of absence. NULL-safe
                # like the ranges (filters hold only non-null values,
                # and NULL never satisfies an equality predicate).
                if not _bloom_might_contain(fblooms[col], lo):
                    return False
            rng = entry.get(col) if isinstance(entry, dict) else None
            if col == "entity_id" and rng is None and not isinstance(entry, dict):
                rng = entry  # pre-round-9 bare-list form
            if rng is None:
                continue  # column unmapped for this file: cannot prune
            mn, mx = rng
            if col == "last_ts":
                mn, mx = (datetime.fromisoformat(x) for x in (mn, mx))
            try:
                if (hi is not None and mn > hi) or (lo is not None and mx < lo):
                    return False  # provably disjoint on this column
            except TypeError:
                # columns without a declared epoch type (item) reach
                # here on a bound/stat type mismatch — same validated
                # posture as the typed loop above
                raise ValueError(
                    f"lake_skip_read: bounds {(lo, hi)!r} for column "
                    f"{col!r} do not compare with its recorded "
                    f"{type(mn).__name__} file stats — pass bounds of "
                    "the column's storage type"
                ) from None
        for col, vs in in_norm.items():
            # set predicate: Bloom all-miss proves the whole
            # disjunction absent; the zone test keeps the file only
            # when SOME value lies inside its recorded [min, max]
            if col in fblooms and all(
                not _bloom_might_contain(fblooms[col], v) for v in vs
            ):
                return False
            rng = entry.get(col) if isinstance(entry, dict) else None
            if col == "entity_id" and rng is None and not isinstance(entry, dict):
                rng = entry  # pre-round-9 bare-list form
            if rng is None:
                continue
            mn, mx = rng
            if col == "last_ts":
                mn, mx = (datetime.fromisoformat(x) for x in (mn, mx))
            try:
                if not any(mn <= v <= mx for v in vs):
                    return False
            except TypeError:
                raise ValueError(
                    f"lake_skip_read: IN values {vs!r} for column "
                    f"{col!r} do not compare with its recorded "
                    f"{type(mn).__name__} file stats — pass values of "
                    "the column's storage type"
                ) from None
        return True

    zone_maps = manifest.get("file_stats", {})
    want_blooms = any(
        lo is not None and lo == hi and col != "last_ts"
        for col, (lo, hi) in norm.items()
    ) or any(col != "last_ts" for col in in_norm)
    plain, pruned_files = set(), []
    for b_str, rel in manifest["buckets"].items():
        stats = zone_maps.get(b_str)
        if stats is None or rel.startswith("bucket="):
            plain.add(int(b_str))  # no stats (or legacy layout): whole bucket
            continue
        blooms = _load_bloom_index(lake_dir, rel) if want_blooms else {}
        for f, entry in sorted(stats.items()):
            if overlaps(entry, blooms.get(f, {})):
                pruned_files.append(os.path.join(lake_dir, rel, f))
    extras = _manifest_columns(manifest)
    parts = []
    base = log._read_live(spark, lake_dir, manifest, plain) if plain else None
    if base is not None:
        parts.append(base)  # already schema-epoch aligned
    if pruned_files:
        parts.append(
            # zone-map-pruned files bypass log._read_live, so the
            # shared commit reader (explicit epoch schema) and the
            # deletion-vector mask apply here explicitly, exactly as
            # in lake_point_read / lake_time_read
            log._apply_dv_mask(
                spark,
                _align_extras(
                    log._read_commit_files(spark, manifest, pruned_files), extras
                ),
                manifest,
            )
        )
    if not parts:
        df = spark.createDataFrame([], _snapshot_schema(extras))
    else:
        from functools import reduce

        df = reduce(lambda a, b: a.unionByName(b), parts)
    def _num_lit(v):
        # a Python int outside int64 cannot become a JVM long literal;
        # Spark's numeric promotion makes the double literal compare
        # correctly against any stored integral (same fallback rule as
        # the Bloom probe: the stored side can never hold such a value)
        if isinstance(v, int) and not isinstance(v, bool) and not (
            -(1 << 63) <= v < (1 << 63)
        ):
            return F.lit(float(v))
        return F.lit(v)

    pred = F.col("last_type") != "delete"
    for col, (lo, hi) in norm.items():
        # last_ts compares in NTZ (the lake's ts may be LTZ or NTZ by
        # producer; session TZ pinned UTC makes the cast value-
        # preserving — same rule as lake_time_read)
        c = F.col(col).cast("timestamp_ntz") if col == "last_ts" else F.col(col)
        lit = (lambda v: F.lit(v).cast("timestamp_ntz")) if col == "last_ts" else _num_lit
        if lo is not None:
            pred = pred & (c >= lit(lo))
        if hi is not None:
            pred = pred & (c <= lit(hi))
    for col, vs in in_norm.items():
        # the set predicate applies row-level too (file pruning is
        # I/O-only; the envelope fold above is strictly weaker)
        c = F.col(col).cast("timestamp_ntz") if col == "last_ts" else F.col(col)
        lit = (lambda v: F.lit(v).cast("timestamp_ntz")) if col == "last_ts" else _num_lit
        member = lit(vs[0]) == c
        for v in vs[1:]:
            member = member | (lit(v) == c)
        pred = pred & member
    return df.filter(pred)


def lake_time_read(
    spark, lake_dir: str, ts_from, ts_to, version: int | None = None
) -> DataFrame:
    """Time-bounded lake read: consumer-view rows whose ``last_ts``
    falls in ``[ts_from, ts_to)``. Below the manifest resolution sits
    FILE pruning on the time axis: buckets whose zone maps carry
    per-file ``last_ts`` [min, max] ranges (recorded from the parquet
    footers by a clustered OPTIMIZE) open only the files overlapping
    the requested window — when keys correlate with time (the common
    case for id-assigned-over-time entities), a narrow window opens a
    small fraction of each bucket instead of the whole dir. Buckets
    without stats read whole and filter — conservative, never wrong
    (the predicate is re-applied to every row either way, so pruning
    is purely an I/O optimization). Bounds accept datetimes (naive =
    UTC) or ISO strings; this is the read path a CDF backfill or a
    time-sliced export uses at 100 TB."""
    from datetime import datetime, timezone

    def norm(v) -> datetime:
        if isinstance(v, str):
            v = datetime.fromisoformat(v)
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return v

    lo, hi = norm(ts_from), norm(ts_to)
    manifest = _manifest_at(lake_dir, version)
    if manifest is None:
        raise ValueError(f"lake at {lake_dir} has no manifest for time reads")
    zone_maps = manifest.get("file_stats", {})
    plain, pruned_files = set(), []
    for b_str, rel in manifest["buckets"].items():
        stats = zone_maps.get(b_str)
        if (
            stats is None
            or rel.startswith("bucket=")
            or not all(isinstance(e, dict) and "last_ts" in e for e in stats.values())
        ):
            plain.add(int(b_str))  # no time stats: whole bucket
            continue
        for f, entry in sorted(stats.items()):
            mn, mx = (datetime.fromisoformat(x) for x in entry["last_ts"])
            if mx >= lo and mn < hi:
                pruned_files.append(os.path.join(lake_dir, rel, f))
    extras = _manifest_columns(manifest)
    parts = []
    base = log._read_live(spark, lake_dir, manifest, plain) if plain else None
    if base is not None:
        parts.append(base)  # already schema-epoch aligned
    if pruned_files:
        parts.append(
            # zone-map-pruned files bypass log._read_live, so the
            # shared commit reader (explicit epoch schema: accretion
            # null-fill + type widening) and the deletion-vector mask
            # apply here explicitly (global entity match — see
            # log._dv_entries on why that is identical to per-bucket
            # application)
            log._apply_dv_mask(
                spark,
                _align_extras(
                    log._read_commit_files(spark, manifest, pruned_files), extras
                ),
                manifest,
            )
        )
    if not parts:
        df = spark.createDataFrame([], _snapshot_schema(extras))
    else:
        from functools import reduce

        df = reduce(lambda a, b: a.unionByName(b), parts)
    # compare in NTZ: the lake's last_ts may be LTZ or NTZ depending
    # on the producing envelope; the session TZ is pinned UTC so the
    # cast is value-preserving either way, and mixed NTZ/LTZ
    # comparisons are a type error in Spark 4
    ts = F.col("last_ts").cast("timestamp_ntz")
    return df.filter(
        (F.col("last_type") != "delete")
        & (ts >= F.lit(lo).cast("timestamp_ntz"))
        & (ts < F.lit(hi).cast("timestamp_ntz"))
    )


def describe_history(lake_dir: str, limit: int | None = None) -> list[dict]:
    """DESCRIBE HISTORY for the lake (the Delta command's analog):
    one row per RETAINED committed version, newest first — version,
    operation kind (merge / compact / rebucket, inferred from the
    commit markers), layout, how many buckets the commit
    data-changed (0 for a compaction: physical-only), and whether it
    is the live version. Driver-side JSON reads only — proportional
    to the retention horizon, never the data. Versions GC'd past
    ``retain_versions`` are absent by construction (their history
    JSON is pruned with their data)."""

    def hist_row(
        v: int,
        markers: dict,
        n_buckets: int,
        data_changed: int,
        is_live: bool,
        committed_at=None,
    ) -> dict:
        if int(markers.get("rebucket", {}).get("version", -1)) == v:
            op = "rebucket"
        elif int(markers.get("compaction", {}).get("version", -1)) == v:
            op = "compact"
        elif int(markers.get("delete_dv", {}).get("version", -1)) == v:
            op = "delete_dv"  # deletion-vector DELETE: zero data bytes
        else:
            op = "merge"
        row = {
            "version": v,
            "operation": op,
            "n_buckets": n_buckets,
            "data_changed_buckets": data_changed,
            "is_live": is_live,
        }
        if committed_at is not None:
            row["committed_at"] = _epoch_iso(committed_at)
        return row

    pointer = _read_pointer(lake_dir)
    if pointer is not None and "buckets" not in pointer:
        # format 2: one row per retained commit-LOG entry — the delta
        # already carries the op markers and the touched-bucket count,
        # so no full manifest is resolved (O(retained) tiny JSON reads)
        floor, live_v = int(pointer.get("floor", 1)), int(pointer["version"])
        out = []
        for v in range(live_v, floor - 1, -1):
            if limit is not None and len(out) >= limit:
                break
            try:
                with open(_delta_path(lake_dir, v)) as fh:
                    delta = json.load(fh)
            except FileNotFoundError:
                # format-1 era of a migrated lake: its retained
                # _history manifest still describes it
                try:
                    with open(
                        os.path.join(lake_dir, HISTORY_DIR, f"{v:010d}.json")
                    ) as fh:
                        m = json.load(fh)
                except FileNotFoundError:
                    continue
                dv = m.get("data_versions", {})
                out.append(
                    hist_row(
                        v, m, m["n_buckets"],
                        sum(1 for x in dv.values() if x == v), False,
                    )
                )
                continue
            out.append(
                hist_row(
                    v,
                    delta.get("extra", {}),
                    delta["n_buckets"],
                    len(delta["touched"]) if delta["data_change"] else 0,
                    v == live_v,
                    committed_at=delta.get("committed_at"),
                )
            )
        return out
    live = pointer
    hist = os.path.join(lake_dir, HISTORY_DIR)
    try:
        names = sorted(os.listdir(hist), reverse=True)
    except FileNotFoundError:
        names = []

    def row(m: dict) -> dict:
        v = m["version"]
        return hist_row(
            v,
            m,
            m["n_buckets"],
            sum(1 for dv in m.get("data_versions", {}).values() if dv == v),
            bool(live) and live["version"] == v,
        )

    out: list[dict] = []
    # a writer killed between the flip and the history write leaves
    # the LIVE version absent from _history/ until the next op heals
    # it — report it anyway (the manifest is authoritative)
    if live is not None and f"{live['version']:010d}.json" not in names:
        out.append(row(live))
    for fn in names:
        if not fn.endswith(".json"):
            continue
        if limit is not None and len(out) >= limit:
            break
        with open(os.path.join(hist, fn)) as fh:
            m = json.load(fh)
        out.append(row(m))
    return out[:limit] if limit is not None else out


def _cdf_frames(
    spark, lake_dir: str, from_version: int, to_version: int | None, caller: str
):
    """Shared preamble of both change feeds: resolve the two
    manifests, compute the data-changed bucket set (pointer diff
    refined by the ``data_versions`` stamps — physical-only pointer
    moves are skipped; a rebucket degrades to a layout-independent
    full diff, each side through its OWN manifest), and return
    ``(new_df, old_df)`` pruned to those buckets — ``(None, None)``
    when nothing data-changed. Ordinary commits never physically drop
    rows (tombstones persist), so new ⊇ old keys — but a RESTORE
    reverts the table to a version predating some keys' first
    appearance, so the bucket walk takes the UNION of both manifests'
    bucket sets and the feeds join FULL OUTER: vanished keys surface
    as deletes instead of silently disappearing."""
    m_new = _manifest_at(lake_dir, to_version)
    if m_new is None:
        raise ValueError(f"lake at {lake_dir} has no manifest")
    # from_version=0 = "from empty" (Delta CDF's startingVersion=0):
    # the first version's whole snapshot arrives as inserts/deletes.
    # Only 0 is the from-empty sentinel — a negative from_version is a
    # caller bug and must not silently return a full load.
    if from_version < 0:
        raise ValueError(
            f"{caller}: from_version must be >= 0 (0 = from empty), "
            f"got {from_version}"
        )
    m_old = _manifest_at(lake_dir, from_version) if from_version >= 1 else None
    if m_old is not None and m_old["n_buckets"] != m_new["n_buckets"]:
        # a rebucket between the versions: bucket ids mean different
        # hash ranges, so pointer-diff pruning is meaningless — read
        # both sides fully (each through its OWN manifest, so old-
        # layout-only buckets are not dropped). The entity-level join
        # below is layout-independent; a rebucket is a rare full
        # rewrite anyway, so the feed matching its cost is honest.
        changed_new = {int(b) for b in m_new["buckets"]}
        changed_old = {int(b) for b in m_old["buckets"]}
    else:
        # pointer diff refined by the per-bucket dataChange stamps:
        # a bucket whose pointer moved only through physical-only
        # commits (compaction) in (from, to] is provably identical
        # and is neither read nor joined. The union of both bucket
        # sets matters only across a restore (a bucket first written
        # after the restored-to version exists in old but not new —
        # its keys vanished and must emit deletes).
        all_b = set(m_new["buckets"]) | set(m_old["buckets"] if m_old else ())
        changed_new = {
            int(b) for b in all_b if _bucket_content_changed(m_old, m_new, b)
        }
        changed_old = changed_new
    if not changed_new:
        return None, None
    new_df = log._read_live(spark, lake_dir, m_new, changed_new)
    old_df = log._read_live(spark, lake_dir, m_old, changed_old) if m_old else None
    if new_df is None and old_df is None:
        return None, None
    if new_df is None:
        new_df = spark.createDataFrame([], old_df.schema)
    if old_df is None:
        old_df = spark.createDataFrame([], new_df.schema)
    return new_df, old_df


def _resolve_change_bounds(
    lake_dir: str,
    from_version,
    to_version,
    from_timestamp,
    to_timestamp,
    caller: str,
) -> tuple:
    """Version bounds for a change feed, from versions or commit
    instants (TIMESTAMP AS OF each end: the snapshot state AT the
    instant is the diff endpoint — 'what changed between instant A
    and instant B')."""
    if from_version is not None and from_timestamp is not None:
        raise ValueError(f"{caller}: pass from_version or from_timestamp, not both")
    if from_version is None and from_timestamp is None:
        raise ValueError(f"{caller}: pass from_version or from_timestamp")
    if to_version is not None and to_timestamp is not None:
        raise ValueError(f"{caller}: pass to_version or to_timestamp, not both")
    if from_timestamp is not None:
        from_version = lake_version_at(lake_dir, from_timestamp)
    if to_timestamp is not None:
        to_version = lake_version_at(lake_dir, to_timestamp)
    if to_version is not None and from_version > to_version:
        # inverted bounds would silently swap inserts/deletes through
        # the full-outer diff — a reversed feed, not an error the
        # consumer could detect
        raise ValueError(
            f"{caller}: from_version ({from_version}) > to_version "
            f"({to_version}) — change feeds run forward; swap the bounds"
        )
    return from_version, to_version


def lake_changes(
    spark,
    lake_dir: str,
    from_version: int | None = None,
    to_version: int | None = None,
    from_timestamp=None,
    to_timestamp=None,
) -> DataFrame:
    """Change-data-feed between two committed versions: one row per
    entity whose snapshot state differs, with the POST-image and a
    ``change_type`` (insert / update / delete — delete meaning the
    entity's latest state became a tombstone).

    Scale contract: versions are manifests, so the changed-entity set
    is computed by reading ONLY the buckets whose manifest pointers
    differ between the two versions (path-level pruning — a merge
    that touched k of B buckets makes this a k·(table/B) read, never
    a table scan), then an entity-level anti-equality join of old vs
    new within those buckets. Ordinary commits never physically drop
    rows (tombstones persist), so new ⊇ old keys — except across a
    RESTORE, which reverts the table to a version predating some
    keys' first appearance: the join is FULL OUTER, and a VANISHED
    key (present and visible in old, physically absent in new) emits
    ``change_type='delete'`` with NULL post-image columns (there is
    no post-image — consumers keyed on entity_id drop the key; a
    restore is the only producer of such rows). Bounds are versions
    or commit instants (``from_timestamp``/``to_timestamp`` —
    TIMESTAMP AS OF each end)."""
    from_version, to_version = _resolve_change_bounds(
        lake_dir, from_version, to_version, from_timestamp, to_timestamp, "lake_changes"
    )
    new_df, old_df = _cdf_frames(spark, lake_dir, from_version, to_version, "lake_changes")
    schema = (
        "entity_id string, change_type string, last_seq bigint, "
        "last_ts timestamp_ntz, last_type string, item string"
    )
    if new_df is None:
        return spark.createDataFrame([], schema)
    n, o = new_df.alias("n"), old_df.select("entity_id", "last_seq", "last_ts", "last_type").alias("o")
    new_exists = F.col("n.last_seq").isNotNull()
    old_exists = F.col("o.last_seq").isNotNull()
    return (
        n.join(o, "entity_id", "full_outer")
        .filter(
            ~old_exists
            | (~new_exists & (F.col("o.last_type") != "delete"))
            | (F.col("o.last_seq") != F.col("n.last_seq"))
            | (F.col("o.last_ts") != F.col("n.last_ts"))
            # a REDACTION (DELETE WHERE, rewrite or deletion-vector)
            # flips last_type while keeping the LWW position — the
            # (seq, ts) comparison alone is blind to it (a real gap
            # until round 10: the entity-state feed silently skipped
            # rewrite redactions; only lake_changes_rows caught them)
            | (F.col("o.last_type") != F.col("n.last_type"))
        )
        .select(
            "entity_id",
            F.when(~new_exists | (F.col("n.last_type") == "delete"), F.lit("delete"))
            .when(
                ~old_exists | (F.col("o.last_type") == "delete"),
                F.lit("insert"),
            )
            .otherwise(F.lit("update"))
            .alias("change_type"),
            F.col("n.last_seq").alias("last_seq"),
            F.col("n.last_ts").alias("last_ts"),
            F.col("n.last_type").alias("last_type"),
            F.col("n.item").alias("item"),
        )
    )


def lake_changes_rows(
    spark,
    lake_dir: str,
    from_version: int | None = None,
    to_version: int | None = None,
    from_timestamp=None,
    to_timestamp=None,
) -> DataFrame:
    """Row-level change feed WITH PRE-IMAGES — Delta CDF's full
    ``_change_type`` vocabulary over the consumer view (tombstones
    filtered on both sides):

    - visible in new only            → one ``insert`` row (new values)
    - visible in both, values differ → ``update_preimage`` (old
      values) + ``update_postimage`` (new values)
    - visible in old only            → one ``delete`` row (OLD values
      — the content that was removed, not the tombstone)

    Pre-images are what make downstream aggregates INCREMENTALLY
    maintainable without keeping per-entity state: every emitted row
    carries a sign (+1 for insert/update_postimage, -1 for
    delete/update_preimage), so ``gold += sign · f(row)`` folds the
    feed into any group-by sum/count — the retraction algebra
    streaming engines call upsert→retract conversion. The old rows
    are already in the buckets this feed must read for the diff, so
    pre-images cost ZERO extra I/O over ``lake_changes``; the same
    stamp-refined pointer pruning applies (compactions skipped,
    k·(table/B) reads). A tombstone refreshed by a newer tombstone is
    logically absent→absent and emits NOTHING here (the entity-state
    feed ``lake_changes`` reports it; this feed is the logical-row
    view). Emission is one pass: the joined row builds an array of
    candidate change structs, filters nulls, explodes — no
    re-reading the join output per change type."""
    from_version, to_version = _resolve_change_bounds(
        lake_dir,
        from_version,
        to_version,
        from_timestamp,
        to_timestamp,
        "lake_changes_rows",
    )
    new_df, old_df = _cdf_frames(
        spark, lake_dir, from_version, to_version, "lake_changes_rows"
    )
    schema = (
        "entity_id string, change_type string, last_seq bigint, "
        "last_ts timestamp_ntz, last_type string, item string"
    )
    if new_df is None:
        return spark.createDataFrame([], schema)
    n = new_df.alias("n")
    o = old_df.select("entity_id", "last_seq", "last_ts", "last_type", "item").alias("o")
    # old-row existence via a never-null payload column: the USING
    # join coalesces entity_id itself, so the o-side key is not
    # addressable after the join
    old_vis = F.col("o.last_seq").isNotNull() & (F.col("o.last_type") != "delete")
    # null-guarded: across a RESTORE a key can be physically ABSENT
    # on the new side (the table reverted to before its first
    # appearance) — visible→absent is a delete like any other, and
    # the old values are already in hand for the pre-image
    new_vis = F.col("n.last_seq").isNotNull() & (F.col("n.last_type") != "delete")
    updated = (
        old_vis
        & new_vis
        & (
            (F.col("o.last_seq") != F.col("n.last_seq"))
            | (F.col("o.last_ts") != F.col("n.last_ts"))
        )
    )

    def change(kind: str, side: str):
        return F.struct(
            F.lit(kind).alias("change_type"),
            F.col(f"{side}.last_seq").alias("last_seq"),
            F.col(f"{side}.last_ts").alias("last_ts"),
            F.col(f"{side}.last_type").alias("last_type"),
            F.col(f"{side}.item").alias("item"),
        )

    null_change = F.lit(None).cast(
        "struct<change_type:string,last_seq:bigint,last_ts:timestamp_ntz,"
        "last_type:string,item:string>"
    )
    changes = F.array(
        F.when(~old_vis & new_vis, change("insert", "n")).otherwise(null_change),
        F.when(updated, change("update_preimage", "o")).otherwise(null_change),
        F.when(updated, change("update_postimage", "n")).otherwise(null_change),
        F.when(old_vis & ~new_vis, change("delete", "o")).otherwise(null_change),
    )
    return (
        n.join(o, "entity_id", "full_outer")
        .select(
            "entity_id",
            F.explode(F.filter(changes, lambda c: c.isNotNull())).alias("c"),
        )
        .select("entity_id", "c.*")
    )
