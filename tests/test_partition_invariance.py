"""Partitioning-invariance: the distributed-correctness property.

The round-4 nondeterminism bug (a sampled range-exchange feeding two
dataflow branches re-executing with different bounds) taught that the
dangerous failure mode is results that depend on HOW the data was
partitioned, not on the data. These tests re-run the queries whose
formulations lean on exchanges, sampling, iteration, or order-
sensitive folds under two different shuffle-partition settings and
assert bit-identical results — any partition-count-dependent
nondeterminism fails here before it can reach a cluster.

(The quantizer tests at the bottom guard the round-4 IVF degeneracy:
cell assignment must be scale-invariant — the norm fix — and must
actually spread vectors across cells.)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lapidus_spark.plans.registry import load_all
from tests.conftest import SF_DIR

REG = load_all()

#: queries whose formulations lean on exchanges/sampling/iteration/
#: order-sensitive folds — the partition-sensitivity risk cohort.
ORDER_SENSITIVE = [
    "sort_global_events",  # sampled range exchange + per-pid rank (the r4 bug)
    "ext_seq_pack",  # same range-exchange pattern (got the same pin)
    "win_ema",  # per-entity sequential fold
    "win_cusum_drift",  # per-entity sequential fold
    "ext_pagerank",  # 3-iteration BIGINT fixed point: bit-identical claim
    "ext_dedup_components",  # components (driver path; rounds below)
    "ext_kmeans_step",  # exact fixed-point means claim
    "ext_embed_centroid",  # two-level exact aggregation
]


def _rows(spark, name: str, partitions: int):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        df = REG[name].fn(spark, SF_DIR)
        cols = sorted(df.columns)
        return sorted(tuple(r[c] for c in cols) for r in df.select(cols).collect())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@pytest.mark.parametrize("name", ORDER_SENSITIVE)
def test_result_is_partitioning_invariant(spark, name):
    a = _rows(spark, name, 3)
    b = _rows(spark, name, 17)
    assert a == b, f"{name}: result depends on shuffle partition count"


def test_dedup_components_rounds_are_partitioning_invariant(spark, request):
    """ext_dedup_components on its distributed path: the iterative
    label-propagation rounds (``autoBroadcastJoinThreshold=-1``) give
    the same rows at 3 and 17 shuffle partitions, and the same rows as
    the driver-side union-find the default conf takes."""
    driver = _rows(spark, "ext_dedup_components", 3)
    request.getfixturevalue("distributed_path")
    assert _rows(spark, "ext_dedup_components", 3) == driver
    assert _rows(spark, "ext_dedup_components", 17) == driver


def test_quantizer_cell_is_scale_invariant(spark):
    """The r4 IVF fix: scores are -(c·e)/|c|, so scaling a vector by
    a positive constant must not move it to a different cell (the
    pre-fix raw scores were norm-dominated — MORE norm meant a
    different cell, and every fixture vector hashed to one cell)."""
    from lapidus_spark.functions.similarity import _cell_expr
    from lapidus_spark.sources.tables import load_table

    e = load_table(spark, SF_DIR, "embeddings").limit(200)
    base = e.select("vec_id", F.expr(_cell_expr("spark", "embedding")).alias("cell"))
    scaled = e.select(
        "vec_id",
        F.expr("transform(embedding, x -> x * CAST(3.0 AS DOUBLE))").alias("embedding"),
    ).select("vec_id", F.expr(_cell_expr("spark", "embedding")).alias("cell"))
    moved = (
        base.alias("a")
        .join(scaled.alias("b"), "vec_id")
        .filter(F.col("a.cell") != F.col("b.cell"))
        .count()
    )
    assert moved == 0


def test_quantizer_cells_are_not_degenerate(spark):
    """No cell swallows the corpus (the pre-fix state: one cell held
    100% and the 'pruned' probe secretly scanned everything)."""
    from lapidus_spark.functions.similarity import _cell_expr
    from lapidus_spark.sources.tables import load_table

    e = load_table(spark, SF_DIR, "embeddings")
    dist = (
        e.select(F.expr(_cell_expr("spark", "embedding")).alias("cell"))
        .groupBy("cell")
        .count()
        .collect()
    )
    total = sum(r["count"] for r in dist)
    assert len(dist) >= 8, f"only {len(dist)} cells in use"
    assert max(r["count"] for r in dist) < 0.5 * total, "one cell holds >=50%"
