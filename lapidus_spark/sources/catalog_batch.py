"""Batch DataSource for the multi-table CATALOG —
``spark.read.format("catalog")`` (and ``CREATE TEMPORARY VIEW v USING
catalog OPTIONS (...)``), completing the round-12 "ordinary Spark
user" story on the tx-consistent plane: the batch twin of the
``catalog_cdf`` streaming source, just as ``format("lake")`` is the
batch twin of ``lake_cdf``.

Options
-------
- ``path`` (required): the catalog directory.
- ``table``: member table name → the TX-CONSISTENT snapshot — the
  table's lake time-traveled to exactly the version the catalog entry
  references (``read_catalog_table`` semantics: two tables read under
  the same catalog version always observe the same transactions).
- ``catalogVersion``: resolve through a retained earlier catalog
  entry instead of the live one.
- ``changes`` = true: the tx-consistent multi-table diff between
  ``startingVersion`` (exclusive, default 0) and ``endingVersion``
  (inclusive, default live) — rows carry the ``tbl`` discriminator,
  the catalog ``ver`` and the underlying ``tbl_ver`` ordering column,
  exactly the streaming ``catalog_cdf`` vocabulary (draining the
  stream over the same range emits identical rows: same planner, same
  executor step).

Implementation is almost entirely REUSE: snapshot mode resolves the
catalog entry driver-side (one tiny JSON) and then IS a
``LakeBatchReader`` pinned to the member table's mapped version —
filter pushdown (bucket hash, zone maps, Bloom sidecars) included;
changes mode reuses the streaming source's catalog walk
(``_plan_catalog_steps``) and the lake feeds' change step.
"""

from __future__ import annotations

import os
from typing import Iterator, Sequence

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from lapidus_spark.sources.lake_batch import LakeBatchReader, _epoch_ddl


def _entry(catalog_dir: str, version=None) -> dict:
    from lapidus_spark.lake.catalog import catalog_entry

    return catalog_entry(
        catalog_dir, int(version) if version is not None else None
    )


def _resolve_table(opts: dict) -> tuple[str, int]:
    path, table = opts.get("path"), opts.get("table")
    if not path:
        raise ValueError("format('catalog') requires option 'path'")
    if not table:
        raise ValueError(
            "format('catalog') requires option 'table' (snapshot mode) "
            "or changes=true"
        )
    cat_ver = opts.get("catalogversion")
    ts_as_of = opts.get("timestampasof")
    if cat_ver is not None and ts_as_of is not None:
        raise ValueError(
            "format('catalog'): pass option catalogVersion OR "
            "timestampAsOf, not both"
        )
    if ts_as_of is not None:
        # catalog-level TIMESTAMP AS OF (round 13): resolve the
        # commit INSTANT to a catalog version, then read the member
        # table at exactly the version that tx-consistent entry maps
        from lapidus_spark.lake.catalog import catalog_version_at

        cat_ver = catalog_version_at(path, ts_as_of)
    entry = _entry(path, cat_ver)
    if table not in entry["tables"]:
        raise ValueError(
            f"catalog at {path} (version {entry['version']}) has no "
            f"table {table!r} (tables: {sorted(entry['tables'])})"
        )
    return os.path.join(path, table), int(entry["tables"][table])


class CatalogChangesBatchReader(DataSourceReader):
    """``changes=true``: the batch tx-consistent multi-table diff —
    the same catalog-entry walk and per-table version-step planner as
    the streaming ``catalog_cdf`` source, collapsed to one batch."""

    def __init__(self, options: dict):
        self.catalog_dir = options.get("path")
        if not self.catalog_dir:
            raise ValueError("format('catalog') requires option 'path'")
        if options.get("table") or options.get("catalogversion"):
            raise ValueError(
                "format('catalog'): changes=true takes startingVersion/"
                "endingVersion, not table/catalogVersion"
            )
        from lapidus_spark.streaming.catalog_source import _catalog_pointer

        self.start = int(options.get("startingversion", 0))
        end = options.get("endingversion")
        if end is not None:
            self.end = int(end)
        else:
            p = _catalog_pointer(self.catalog_dir)
            self.end = int(p["version"]) if p else 0
        if self.end < self.start:
            raise ValueError(
                f"format('catalog'): endingVersion {self.end} < "
                f"startingVersion {self.start}"
            )

    def partitions(self) -> Sequence[InputPartition]:
        from lapidus_spark.streaming.catalog_source import _plan_catalog_steps

        return _plan_catalog_steps(
            self.catalog_dir, self.start, self.end, caller="catalog (batch)"
        )

    def read(self, partition) -> Iterator:
        from lapidus_spark.streaming.lake_source import _change_batches

        yield from _change_batches(partition)


class CatalogDataSource(DataSource):
    """``spark.read.format("catalog").option("path", dir)`` — see the
    module docstring for options."""

    @classmethod
    def name(cls) -> str:
        return "catalog"

    def _opts(self) -> dict:
        return {str(k).lower(): v for k, v in dict(self.options).items()}

    def schema(self) -> str:
        opts = self._opts()
        if str(opts.get("changes", "")).lower() == "true":
            from lapidus_spark.streaming.catalog_source import (
                CATALOG_CDF_SCHEMA,
            )

            return CATALOG_CDF_SCHEMA
        lake_dir, version = _resolve_table(opts)
        from lapidus_spark.lake import log

        manifest = log._manifest_at(lake_dir, version)
        if manifest is None:
            raise ValueError(
                f"catalog member table at {lake_dir} has no manifest"
            )
        return _epoch_ddl(lake_dir, manifest)[0]

    def reader(self, schema) -> DataSourceReader:
        opts = self._opts()
        if str(opts.get("changes", "")).lower() == "true":
            return CatalogChangesBatchReader(opts)
        lake_dir, version = _resolve_table(opts)
        # snapshot mode IS the lake batch reader pinned to the
        # catalog-mapped table version — pushdown pruning included
        return LakeBatchReader({"path": lake_dir, "version": str(version)})


def register_catalog_batch(spark) -> None:
    """Idempotent registration of the batch ``catalog`` format (the
    streaming twin registers as ``catalog_cdf``). Enables Python
    data-source filter pushdown like ``register_lake_batch`` — the
    snapshot reader implements ``pushFilters``."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(CatalogDataSource)
