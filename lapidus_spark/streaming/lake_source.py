"""Streaming change-data-feed SOURCE over the manifest-versioned lake
— the ``spark.readStream.format("delta").option("readChangeFeed", ...)``
analog for the plain-parquet lake, built on Spark 4's Python streaming
Data Source API (``pyspark.sql.datasource``).

This closes the loop the reference's consumers rely on: downstream
subscribers incrementally react to committed changes (the cache /
bus consumers of ``src/plugins/nats.js:23-28``) instead of rescanning
the table. Offsets are manifest VERSIONS (each ``merge_batch_into_lake``
commit is one version, ``materialize.py``), so the streaming
checkpoint's offset log gives exactly-once incremental consumption:
a restarted consumer resumes at the committed version and never
re-emits or skips a change.

Scale contract (the same one ``lake_changes`` documents):

- ``latestOffset`` is a driver-side JSON read of
  ``_lapidus_manifest.json`` — no file listing, no scan.
- ``partitions(start, end)`` expands the version range into one input
  partition per (version step, changed bucket), where "changed" is a
  manifest POINTER diff — a merge that touched k of B buckets yields
  k partitions reading k·(table/B) bytes, never a table scan, and the
  per-version stepping makes the emitted row set independent of how
  versions group into micro-batches (deterministic replay).
- ``read`` runs on executors (``_change_batches``, the one change
  step behind this source, ``catalog_cdf``, both batch twins and the
  driver-side diff of a small ``lake_changes``):
  each side of the bucket reads through ``lake_batch.
  _aligned_file_table`` with that side's deletion vector, tombstones
  kept, and one Arrow full-outer join diffs them by
  ``lake_changes``' rule (``rowChanges``: ``lake_changes_rows``') —
  the layout pins an entity to its bucket, so the per-bucket diff
  equals the global diff, and a DV DELETE step (pointer kept, vector
  moved) emits its deletes like a rewrite DELETE.

Physical-only commits are free: a compaction (OPTIMIZE) moves bucket
pointers without changing content, and the manifest's per-bucket
``data_versions`` stamps prove it — those version steps plan ZERO
partitions (Delta CDF's ``dataChange=false`` skip), so routine table
maintenance never costs subscribers a re-read. A marked rebucket
commit is likewise snapshot-identical (a pure layout swap) and its
step is skipped; consumers stream straight across it.

Failure posture: a layout change WITHOUT a rebucket marker (foreign
writer, manual surgery) is not interpretable, so the source raises
and the consumer restarts from a full snapshot; a version GC'd past
``retain_versions`` raises with the retention knob named. Rate
limiting via ``maxVersionsPerBatch`` is admission control only —
content is per-version either way.
"""

from __future__ import annotations

import json
import os
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

#: source schema. last_ts is the stored instant (the queries cast to
#: timestamp_ntz at the edge, like every other lake read); ver is the
#: manifest version whose commit produced the change.
CDF_SCHEMA = (
    "entity_id string, change_type string, last_seq bigint, "
    "last_ts timestamp, last_type string, item string, ver int"
)

#: the diffed columns besides ``entity_id``
_CHANGE_COLS = ("last_seq", "last_ts", "last_type", "item")


def _live_version(lake_dir: str, default: int = 0) -> int:
    """Driver-side read of the live manifest version (one JSON open,
    the whole latestOffset cost model); ``default`` for a lake with
    no manifest yet."""
    try:
        with open(os.path.join(lake_dir, "_lapidus_manifest.json")) as fh:
            return int(json.load(fh)["version"])
    except FileNotFoundError:
        return default


class LakeCDFPartition(InputPartition):
    """One change step — the read unit of all four change feeds: one
    (version step, changed bucket) with absolute parquet paths and
    the bucket's deletion-vector entries for its state at ``ver``
    (new) and ``ver - 1`` (old). The catalog feeds add the member
    table ``tbl`` and the catalog version ``cat_ver`` whose tx the
    step belongs to. A small ``lake_changes`` diff is ONE partition
    with no ``ver``, covering every changed bucket of two arbitrary
    versions (``stats._local_changes``)."""

    def __init__(
        self,
        ver: int | None,
        new_files: list,
        old_files: list,
        new_dv=(),
        old_dv=(),
        tbl: str | None = None,
        cat_ver: int | None = None,
    ):
        self.ver = ver
        self.new_files = new_files
        self.old_files = old_files
        self.new_dv = list(new_dv)
        self.old_dv = list(old_dv)
        self.tbl = tbl
        self.cat_ver = cat_ver


def _bucket_files(lake_dir: str, manifest: dict | None, bucket: int) -> list:
    """Driver-side: the parquet files backing one bucket of one
    committed version (manifest pointers are dirs)."""
    if manifest is None:
        return []
    rel = manifest["buckets"].get(str(bucket))
    if rel is None:
        return []
    d = os.path.join(lake_dir, rel)
    if not os.path.isdir(d):
        # a retained manifest's pointers are covered by the reader-vs-GC
        # contract: a missing dir is corruption (partial restore, manual
        # deletion), and reading it as "empty" would silently re-emit the
        # whole bucket as inserts — fail fast instead.
        raise ValueError(
            f"lake_cdf: manifest of {lake_dir} references missing bucket "
            f"dir {rel!r} — lake corrupted (partial restore?); restore the "
            "dir or restart the consumer from a full snapshot"
        )
    return sorted(
        os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
    )


def _plan_version_steps(
    lake_dir: str,
    s: int,
    e: int,
    caller: str = "lake_cdf",
    tbl: str | None = None,
    cat_ver: int | None = None,
) -> list[LakeCDFPartition]:
    """Driver-side planning shared by the per-table and catalog-level
    CDF sources: expand the version range (s, e] into change steps —
    one ``LakeCDFPartition`` per (version step, data-changed bucket),
    carrying each side's files and deletion-vector entries (both
    manifests are in hand already). All the scale properties live here:
    per-version stepping (deterministic replay independent of batch
    grouping), pointer-diff bucket pruning refined by the
    ``data_versions`` stamps (physical-only commits plan ZERO
    partitions), marked-rebucket steps skipped as snapshot-identical,
    unmarked layout changes refused."""
    from lapidus_spark.streaming.materialize import (
        _bucket_content_changed,
        _manifest_at,
    )

    parts = []
    m_prev: dict | None = None
    for v in range(s + 1, e + 1):
        # _manifest_at raises for a GC'd version, naming the
        # retain_versions horizon — the consumer lagged past
        # retention and must restart from a full snapshot.
        # Carrying m_new forward as the next step's m_old halves
        # the driver-side manifest reads on long catch-ups.
        m_new = _manifest_at(lake_dir, v)
        m_old = (
            m_prev
            if m_prev is not None
            else (_manifest_at(lake_dir, v - 1) if v - 1 >= 1 else None)
        )
        m_prev = m_new
        if m_old is not None and m_old["n_buckets"] != m_new["n_buckets"]:
            reb = m_new.get("rebucket")
            if reb is not None and int(reb.get("version", -1)) == v:
                # marked rebucket commit: rebucket_lake reads the
                # live snapshot and only re-hashes the bucket
                # column, published as one atomic flip — the step
                # is snapshot-identical, so the correct change feed
                # for it is ZERO rows. Skip it (zero partitions,
                # zero bucket reads) and keep streaming; the next
                # step diffs within the new layout. This matches
                # the batch twin's layout-independent diff (which
                # would read both sides in full to emit the same
                # zero rows) at none of its cost.
                continue
            raise ValueError(
                f"{caller}: bucket layout changed between versions {v - 1} "
                f"and {v} ({m_old['n_buckets']} -> {m_new['n_buckets']} "
                "buckets) without a rebucket marker — bucket ids are not "
                "comparable across layouts; restart the consumer from a "
                "full snapshot at or after the layout change"
            )
        # union of both bucket sets: a RESTORE can revert to a
        # version predating a bucket's first write — its keys
        # VANISHED and the old-only bucket must still be diffed
        # (new side empty → delete rows), or subscribers would
        # silently keep the retracted keys.
        all_b = set(m_new["buckets"]) | set(m_old["buckets"] if m_old else ())
        for b_str in sorted(all_b, key=int):
            b = int(b_str)
            if not _bucket_content_changed(m_old, m_new, b_str):
                # pointer unchanged, or moved only by physical-only
                # commits (compaction — dataChange=false): content
                # provably identical, skip without reading.
                continue
            parts.append(
                LakeCDFPartition(
                    v,
                    _bucket_files(lake_dir, m_new, b),
                    _bucket_files(lake_dir, m_old, b),
                    new_dv=m_new.get("deletion_vectors", {}).get(b_str, ()),
                    old_dv=(m_old or {}).get("deletion_vectors", {}).get(b_str, ()),
                    tbl=tbl,
                    cat_ver=cat_ver,
                )
            )
    return parts


def _change_batches(
    part: LakeCDFPartition,
    row_changes: bool = False,
    ts_ddl: str = "timestamp",
    item_ddl: str = "string",
) -> Iterator:
    """ONE change step, the read of all four change feeds and of a
    small ``lake_changes`` / ``lake_changes_rows`` diff. The data
    sources run it on executors, one step per partition, at their
    declared types (``CDF_SCHEMA``: ``last_ts timestamp``, ``item
    string``, the defaults); ``stats._local_changes`` runs it on the
    driver over ONE partition covering every changed bucket, at the
    lake epoch's ``(ts_ddl, item_ddl)``. Both sides read through
    ``_aligned_file_table`` at those types with their own deletion
    vectors and tombstones KEPT, then one full-outer join on
    ``entity_id`` diffs them. FULL outer: a
    RESTORE reverts to a version predating some keys, so a visible key
    can vanish. Every predicate is Kleene, like the Spark helpers' SQL,
    and a NULL filter drops the row as theirs does.

    - entity state (``lake_changes``' rule): an entity is emitted when
      it is new, vanished while visible, or its ``last_seq``,
      ``last_ts`` or ``last_type`` moved — the type term catches a
      redaction (rewrite or DV DELETE), which keeps the LWW position.
      Post-image columns; ``delete`` when the new side is a tombstone
      or absent, ``insert`` when the old side was, else ``update``.
    - ``row_changes`` (``lake_changes_rows``' rule, over the visible
      rows): insert = appeared visible (new values); update = visible
      both sides with a moved (seq, ts) → pre-image row (OLD values) +
      post-image row (new values); delete = went invisible (the
      REMOVED content). A tombstone refreshed by a newer tombstone is
      absent→absent and emits nothing.

    Rows carry ``ver``, unless the step has none (the driver-side
    diff of two versions); a catalog step leads with ``tbl``, carries
    the catalog version as ``ver`` and the table version as
    ``tbl_ver`` (the within-``ver`` order when one tx spans several
    table steps). A batch reader whose plan is empty gets ONE ``None``
    partition from Spark (``plan_data_source_read``): no rows."""
    if part is None:
        return
    import functools

    import pyarrow as pa
    import pyarrow.compute as pc

    from lapidus_spark.sources.lake_batch import (
        _aligned_file_table,
        _snapshot_arrow_schema,
    )

    def side(files, dv):
        tables = [
            _aligned_file_table(f, [], ts_ddl, item_ddl, dv, keep_tombstones=True)
            for f in files
        ] or [_snapshot_arrow_schema([], ts_ddl, item_ddl).empty_table()]
        return pa.concat_tables(tables).select(["entity_id", *_CHANGE_COLS])

    new, old = side(part.new_files, part.new_dv), side(part.old_files, part.old_dv)
    if not (new.num_rows or old.num_rows):
        return
    j = new.join(old, "entity_id", join_type="full outer", right_suffix="_o")
    j = j.combine_chunks()

    def moved(c):
        return pc.not_equal(j[c + "_o"], j[c])

    def visible(sfx):
        return pc.and_kleene(
            pc.is_valid(j["last_seq" + sfx]),
            pc.not_equal(j["last_type" + sfx], "delete"),
        )

    def when(pred):  # SQL WHERE / CASE WHEN: NULL is false
        return pc.fill_null(pred, False)

    def rows(mask, sfx, kind):
        t = j.filter(mask)
        kinds = (
            pa.array([kind] * t.num_rows, pa.string())
            if isinstance(kind, str)
            else kind.filter(mask)
        )
        return pa.table(
            {
                "entity_id": t["entity_id"],
                "change_type": kinds,
                **{c: t[c + sfx] for c in _CHANGE_COLS},
            }
        )

    old_vis, new_vis = visible("_o"), visible("")
    if row_changes:
        updated = when(
            pc.and_kleene(
                pc.and_kleene(old_vis, new_vis),
                pc.or_kleene(moved("last_seq"), moved("last_ts")),
            )
        )
        picks = [
            (when(pc.and_kleene(pc.invert(old_vis), new_vis)), "", "insert"),
            (updated, "_o", "update_preimage"),
            (updated, "", "update_postimage"),
            (when(pc.and_kleene(old_vis, pc.invert(new_vis))), "_o", "delete"),
        ]
        out = pa.concat_tables([rows(m, sfx, kind) for m, sfx, kind in picks])
    else:
        keep = functools.reduce(
            pc.or_kleene,
            [
                pc.is_null(j["last_seq_o"]),
                pc.and_kleene(
                    pc.is_null(j["last_seq"]),
                    pc.not_equal(j["last_type_o"], "delete"),
                ),
                moved("last_seq"),
                moved("last_ts"),
                moved("last_type"),
            ],
        )
        kind = pc.if_else(
            when(pc.invert(new_vis)),
            "delete",
            pc.if_else(when(pc.invert(old_vis)), "insert", "update"),
        )
        out = rows(when(keep), "", kind)
    n = out.num_rows
    if not n:
        return
    if part.tbl is None:
        if part.ver is not None:
            out = out.append_column("ver", pa.array([part.ver] * n, pa.int32()))
    else:
        out = out.append_column("ver", pa.array([part.cat_ver] * n, pa.int32()))
        out = out.append_column("tbl_ver", pa.array([part.ver] * n, pa.int32()))
        out = out.add_column(0, "tbl", pa.array([part.tbl] * n, pa.string()))
    yield from out.combine_chunks().to_batches()


class LakeCDFStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.lake_dir = options.get("path")
        if not self.lake_dir:
            raise ValueError("lake_cdf source requires option 'path' (the lake dir)")
        raw_start = options.get("startingversion", 0)
        #: "latest" (Delta parity) is resolved INSIDE initialOffset —
        #: Spark calls initialOffset only on a first start, so a
        #: checkpointed restart never resolves it, the committed
        #: offset wins, and the admission-control floor re-climbs
        #: from 0 in maxVersionsPerBatch steps like a numeric start
        #: (resolving at __init__ would jump the floor to NOW-latest
        #: on restart and plan the whole backlog as one batch).
        self._latest_start = str(raw_start).lower() == "latest"
        self.starting_version = 0 if self._latest_start else int(raw_start)
        #: TIMESTAMP AS OF the diff base: the snapshot state AT the
        #: instant is the exclusive starting point, so the feed is
        #: "everything that changed after ts". Resolved LAZILY in
        #: initialOffset (like 'latest'): Spark only calls
        #: initialOffset on a first start, so a checkpointed restart
        #: never re-resolves — which matters once retention GC's the
        #: commits at/before the instant (resolution would raise the
        #: retention error and kill a restart whose committed offset
        #: is already far past it).
        self._start_ts = options.get("startingtimestamp")
        if self._start_ts is not None and (raw_start != 0 or self._latest_start):
            raise ValueError(
                "lake_cdf: pass startingVersion or startingTimestamp, not both"
            )
        self.max_versions = int(options.get("maxversionsperbatch", 0))
        #: rowChanges=true switches the feed from entity-state rows
        #: (one post-image row per changed entity) to the row-level
        #: Delta-CDF vocabulary WITH pre-images over the consumer
        #: view: insert / update_preimage / update_postimage / delete
        #: — the streaming twin of lake_changes_rows, same schema
        #: (pre-image rows carry the old values in the value columns).
        self.row_changes = str(options.get("rowchanges", "false")).lower() == "true"
        #: admission-control frontier (driver-side only — NOT the
        #: committed offset, which lives in the checkpoint). After a
        #: restart it re-climbs from startingVersion; partitions()
        #: clamps it to every planned range so at most one empty
        #: trigger is wasted and no version is ever re-emitted (the
        #: checkpointed start of each planned batch is authoritative).
        self._floor = self.starting_version

    def initialOffset(self) -> dict:
        if self._latest_start:
            v = _live_version(self.lake_dir)
            self._floor = max(self._floor, v)
            return {"version": v}
        if self._start_ts is not None:
            from lapidus_spark.streaming.materialize import lake_version_at

            v = lake_version_at(self.lake_dir, self._start_ts)
            self._floor = max(self._floor, v)
            return {"version": v}
        return {"version": self.starting_version}

    def latestOffset(self) -> dict:
        cur = _live_version(self.lake_dir, default=self.starting_version)
        if self.max_versions > 0:
            cur = min(cur, self._floor + self.max_versions)
        self._floor = max(self._floor, cur)
        return {"version": cur}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        s, e = int(start["version"]), int(end["version"])
        self._floor = max(self._floor, s, e)
        return _plan_version_steps(self.lake_dir, s, e)

    def read(self, partition: LakeCDFPartition) -> Iterator:
        yield from _change_batches(partition, self.row_changes)

    def commit(self, end: dict) -> None:
        self._floor = max(self._floor, int(end["version"]))


class LakeChangeFeedDataSource(DataSource):
    """``spark.readStream.format("lake_cdf").option("path", lake)`` —
    options: ``startingVersion`` (diff base, exclusive; default 0 =
    from empty, i.e. the full first version arrives as inserts;
    ``"latest"`` = subscribe-from-now, resolved once at stream start)
    or ``startingTimestamp`` (TIMESTAMP AS OF the diff base — the
    feed emits everything that changed after the instant; mutually
    exclusive with startingVersion),
    ``maxVersionsPerBatch`` (admission control; 0 = unbounded), and
    ``rowChanges`` (true = the row-level pre/post-image vocabulary of
    ``lake_changes_rows`` instead of entity-state rows; same schema,
    pre-image rows carry the old values).

    Trigger caveat: python streaming sources have no
    ``Trigger.AvailableNow`` support — Spark falls back to a SINGLE
    batch, which a nonzero ``maxVersionsPerBatch`` then clips to the
    first N versions (silent truncation). Catch-up consumers should
    drain via ``query.processAllAvailable()`` (or run untriggered);
    only an uncapped stream may use availableNow."""

    @classmethod
    def name(cls) -> str:
        return "lake_cdf"

    def schema(self) -> str:
        return CDF_SCHEMA

    def streamReader(self, schema) -> LakeCDFStreamReader:
        return LakeCDFStreamReader(dict(self.options))


def register_lake_cdf(spark) -> None:
    """Idempotent registration of the ``lake_cdf`` streaming format."""
    spark.dataSource.register(LakeChangeFeedDataSource)
