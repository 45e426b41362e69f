"""Streaming CATALOG change-data-feed source — the tx-consistent
multi-table analog of the per-table ``lake_cdf`` format (VERDICT r10
#7): offsets are CATALOG versions, and each micro-batch is the
tx-consistent multi-table diff between two committed catalog entries,
with a ``tbl`` discriminator column — ``catalog_changes`` as a
resumable stream.

This carries the reference's per-transaction atomicity
(``DatabaseTransaction``, src/postgresql.js:487-501: items in
statement order, one event at commit) all the way into a downstream
STREAMING consumer: because the source steps catalog versions — never
raw table versions — a micro-batch can contain table A's half of a
transaction only together with table B's. The per-table feeds,
consumed independently, cannot promise that.

Scale contract (inherits the lake source's, per table):

- ``latestOffset`` is ONE driver-side JSON read of the catalog
  pointer — no file listing, no scan.
- ``partitions(start, end)`` walks catalog entries (tiny JSONs,
  ``_plan_catalog_steps`` — the one walk, shared with the batch
  ``format("catalog")`` twin) and, per member table, expands that
  table's catalog-mapped version range through the SAME per-version
  planner the lake source uses (``_plan_version_steps``): pointer-diff
  bucket pruning refined by dataChange stamps, physical-only commits
  plan zero partitions, marked rebuckets skip free. A tx touching k
  buckets across N tables plans exactly those k partitions.
- ``read`` is the lake feeds' change step (``_change_batches``), one
  Arrow batch per (table, version step, changed bucket).

Retention: the round-11 catalog-coordinated guards make this source's
reads safe by construction — a retained catalog entry's table
versions cannot be GC'd (per-commit floor clamp + vacuum interlock),
and a consumer lagging past ``catalog_vacuum``'s floor fails fast
with the retention error instead of reading a hole.
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

from lapidus_spark.streaming.lake_source import _change_batches, _plan_version_steps

#: the batch ``catalog_changes`` frame plus the source's ``ver``
#: column carrying the CATALOG version whose tx produced the change
#: (the tx-consistency discriminator: rows sharing ver form one
#: atomic multi-table diff) and ``tbl_ver``, the underlying TABLE
#: version each step diffed — the within-``ver`` ordering column: one
#: catalog step spans several table-version steps when a member table
#: received direct non-catalog data commits between txs, and a
#: folding consumer must apply those per (tbl, entity_id) in
#: ``tbl_ver`` order.
CATALOG_CDF_SCHEMA = (
    "tbl string, entity_id string, change_type string, last_seq bigint, "
    "last_ts timestamp, last_type string, item string, ver int, tbl_ver int"
)


def _catalog_pointer(catalog_dir: str) -> dict | None:
    try:
        with open(os.path.join(catalog_dir, "_lapidus_catalog.json")) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def _catalog_entry(catalog_dir: str, version: int) -> dict:
    """Driver-side entry read with the same fail-fast posture as the
    batch reader (``lake.catalog.catalog_entry``) — duplicated here
    minimally because the source must stay importable on executors
    without dragging the Spark-side catalog module in."""
    pointer = _catalog_pointer(catalog_dir)
    if pointer is None:
        raise ValueError(f"{catalog_dir} has no catalog pointer")
    floor = int(pointer.get("floor", 1))
    if version < floor:
        raise ValueError(
            f"catalog version {version} at {catalog_dir} is below the "
            f"retention floor {floor} (catalog_vacuum reclaimed it) — "
            "restart the consumer from a full snapshot at or after the floor"
        )
    with open(
        os.path.join(catalog_dir, "_catalog_log", f"{version:010d}.json")
    ) as fh:
        return json.load(fh)


def _plan_catalog_steps(catalog_dir: str, s: int, e: int, caller: str) -> list:
    """Driver-side: the change steps of catalog versions (s, e] — the
    one catalog-entry walk behind ``catalog_cdf`` and the batch
    ``format("catalog")`` changes relation. Each member table a tx
    moved expands through ``_plan_version_steps`` over its
    catalog-mapped version range, tagged with the table and the
    catalog version."""
    parts: list = []
    entry_prev: dict | None = None
    for cv in range(s + 1, e + 1):
        entry_new = _catalog_entry(catalog_dir, cv)
        entry_old = (
            entry_prev
            if entry_prev is not None
            else (
                _catalog_entry(catalog_dir, cv - 1)
                if cv - 1 >= 1
                else {"tables": {}}
            )
        )
        entry_prev = entry_new
        # tables are never dropped, so the new entry's set is a
        # superset; a table first committed in this tx diffs from
        # empty (version 0) — its whole first snapshot as inserts
        for tbl in sorted(entry_new["tables"]):
            tv_old = int(entry_old["tables"].get(tbl, 0))
            tv_new = int(entry_new["tables"][tbl])
            if tv_new == tv_old:
                continue  # carried forward: the tx didn't touch it
            # per-version stepping WITHIN the table covers
            # non-catalog commits between the referenced versions
            # (admin compaction between txs — its dataChange=false
            # steps plan zero partitions anyway)
            parts += _plan_version_steps(
                os.path.join(catalog_dir, tbl),
                tv_old,
                tv_new,
                caller=caller,
                tbl=tbl,
                cat_ver=cv,
            )
    return parts


class CatalogCDFStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.catalog_dir = options.get("path")
        if not self.catalog_dir:
            raise ValueError(
                "catalog_cdf source requires option 'path' (the catalog dir)"
            )
        raw_start = options.get("startingversion", 0)
        #: 'latest' resolved inside initialOffset only (first start;
        #: a checkpointed restart's committed offset wins) — same
        #: contract as the lake source.
        self._latest_start = str(raw_start).lower() == "latest"
        self.starting_version = 0 if self._latest_start else int(raw_start)
        self.max_versions = int(options.get("maxversionsperbatch", 0))
        self._floor = self.starting_version

    def initialOffset(self) -> dict:
        if self._latest_start:
            p = _catalog_pointer(self.catalog_dir)
            v = int(p["version"]) if p else 0
            self._floor = max(self._floor, v)
            return {"version": v}
        return {"version": self.starting_version}

    def latestOffset(self) -> dict:
        p = _catalog_pointer(self.catalog_dir)
        cur = int(p["version"]) if p else self.starting_version
        if self.max_versions > 0:
            cur = min(cur, self._floor + self.max_versions)
        self._floor = max(self._floor, cur)
        return {"version": cur}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        s, e = int(start["version"]), int(end["version"])
        self._floor = max(self._floor, s, e)
        return _plan_catalog_steps(self.catalog_dir, s, e, caller="catalog_cdf")

    def read(self, partition) -> Iterator:
        yield from _change_batches(partition)

    def commit(self, end: dict) -> None:
        self._floor = max(self._floor, int(end["version"]))


class CatalogChangeFeedDataSource(DataSource):
    """``spark.readStream.format("catalog_cdf").option("path", dir)``
    — options: ``startingVersion`` (catalog diff base, exclusive;
    default 0 = from empty — every table's first snapshot arrives as
    inserts; ``"latest"`` = subscribe-from-now) and
    ``maxVersionsPerBatch`` (admission control over CATALOG versions
    — a bound in transactions, the consumer-meaningful unit; 0 =
    unbounded). Same availableNow caveat as ``lake_cdf``: python
    streaming sources fall back to a single batch — catch-up
    consumers should drain via ``query.processAllAvailable()``."""

    @classmethod
    def name(cls) -> str:
        return "catalog_cdf"

    def schema(self) -> str:
        return CATALOG_CDF_SCHEMA

    def streamReader(self, schema) -> CatalogCDFStreamReader:
        return CatalogCDFStreamReader(dict(self.options))


def register_catalog_cdf(spark) -> None:
    """Idempotent registration of the ``catalog_cdf`` streaming
    format."""
    spark.dataSource.register(CatalogChangeFeedDataSource)
