"""Plan-shape regression tests: the audited queries must keep their
100 TB plan contract (pushdown reaches the scan, exchange budget
holds, dims broadcast, top-k stays TakeOrderedAndProject)."""

from __future__ import annotations

import pytest

from lapidus_spark.plans.audit import (
    EXPECTATIONS,
    STREAM_EXPECTATIONS,
    STREAM_RUN_FACTS,
    check,
    check_stream,
    plan_facts,
)
from lapidus_spark.plans.registry import load_all
from tests.conftest import SF_DIR

REG = load_all()

#: point reads small enough for the driver-side local lookup
#: (``stats._local_lookup``) at the default conf; their scan contract
#: is checked on the scan path
LOCAL_LOOKUPS = ("lake_rebucket", "lake_zonemap_read")
#: change feeds small enough for the driver-side diff
#: (``stats._local_changes``) at the default conf
LOCAL_CHANGES = ("lake_changes_feed", "lake_cdf_preimages", "lake_gold_incremental")
#: queries whose plan contract is checked on the distributed path:
#: the local lookups and change feeds, and the components of an edge
#: set small enough for ``min_label_propagation``'s driver-side
#: union-find
DRIVER_PATHS = LOCAL_LOOKUPS + LOCAL_CHANGES + ("ext_dedup_components",)


@pytest.mark.parametrize("name", sorted(EXPECTATIONS))
def test_plan_contract(spark, request, name):
    if name in DRIVER_PATHS:
        request.getfixturevalue("distributed_path")
    facts = plan_facts(REG[name].fn(spark, SF_DIR))
    errors = check(name, facts, EXPECTATIONS[name])
    assert not errors, f"{name}: {errors}"


@pytest.mark.parametrize("name", LOCAL_LOOKUPS)
def test_local_lookup_contract(spark, name):
    """At the default conf the same queries are local relations:
    building and collecting one launches no Spark job, and its plan
    has no file scan."""
    REG[name].fn(spark, SF_DIR)  # builds and caches the query's lake
    sc = spark.sparkContext
    group = f"local_lookup_{name}"
    sc.setJobGroup(group, "a local lookup must launch no job")
    try:
        df = REG[name].fn(spark, SF_DIR)
        rows = df.collect()
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert rows
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in executed and "FileScan" not in executed


@pytest.mark.parametrize("name", LOCAL_CHANGES)
def test_local_changes_contract(spark, name):
    """At the default conf the change feeds read no file in Spark:
    every feed is a local relation, so the plan has a LocalTableScan
    and no file scan. The two plain feeds launch no job from build
    through collect; the incremental gold fold still aggregates its
    three local feeds in Spark."""
    REG[name].fn(spark, SF_DIR)  # builds and caches the query's lake
    sc = spark.sparkContext
    group = f"local_changes_{name}"
    sc.setJobGroup(group, "a local change feed must launch no job")
    try:
        df = REG[name].fn(spark, SF_DIR)
        rows = df.collect()
    finally:
        sc.setJobGroup(None, None)
    assert rows
    if name != "lake_gold_incremental":
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in executed and "FileScan" not in executed


def test_local_components_contract(spark):
    """At the default conf ext_dedup_components' edge set fits under
    the broadcast threshold, so its components are built on the
    driver: the plan is a LocalTableScan, and collecting it launches
    no Spark job (building it runs the edge collect)."""
    df = REG["ext_dedup_components"].fn(spark, SF_DIR)
    sc = spark.sparkContext
    group = "local_components"
    sc.setJobGroup(group, "collecting local components must launch no job")
    try:
        rows = df.collect()
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert rows
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in executed and "Exchange" not in executed


@pytest.mark.parametrize("name", sorted(STREAM_EXPECTATIONS))
def test_stream_contract(spark, name):
    """Streaming plans only exist once executed: run the query live,
    then assert the facts its runner recorded (state operators,
    bounded state partitioning, watermarks, micro-batch counts)."""
    REG[name].fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    facts = STREAM_RUN_FACTS[name]
    errors = check_stream(name, facts, STREAM_EXPECTATIONS[name])
    assert not errors, f"{name}: {errors}"


def test_every_query_has_a_contract():
    """Every registered query is covered by exactly one contract
    layer — batch plan-shape or executed-stream facts."""
    covered = set(EXPECTATIONS) | set(STREAM_EXPECTATIONS)
    missing = sorted(set(REG) - covered)
    assert not missing, f"queries without a plan contract: {missing}"
    unknown = sorted(covered - set(REG))
    assert not unknown, f"contracts for unregistered queries: {unknown}"


def test_clear_stream_run_normalizes_sink_names():
    """clear_stream_run must strip the '_out' sink suffix exactly as
    record_stream_run does — _run_to_memory passes the sink name, and
    an unnormalized pop would silently leave the previous run's facts
    in place (the ADVICE-r5 staleness bug's original fix was exactly
    this no-op)."""
    from lapidus_spark.plans.audit import clear_stream_run

    STREAM_RUN_FACTS["stream_policy_probe"] = object()
    clear_stream_run("stream_policy_probe_out")
    assert "stream_policy_probe" not in STREAM_RUN_FACTS
    STREAM_RUN_FACTS["stream_policy_probe"] = object()
    clear_stream_run("stream_policy_probe")
    assert "stream_policy_probe" not in STREAM_RUN_FACTS


def test_pagerank_builder_runs_no_spark_jobs(spark):
    """VERDICT r6 #2: ext_pagerank's join-strategy guard must come
    from the build-time statistic (stats.json beside the persisted
    graph), not a driver-side count — on the warm path, CONSTRUCTING
    the query DataFrame must trigger zero Spark jobs (at 100 TB edge
    scale an eager guard job costs a full aggregation before the
    real query starts)."""
    from lapidus_spark.operators.graph import build_trade_graph, ext_pagerank

    build_trade_graph(spark, SF_DIR)  # warm: one-time ingest work
    sc = spark.sparkContext
    sc.setJobGroup("pr_builder_audit", "pagerank builder must be lazy")
    try:
        df = ext_pagerank(spark, SF_DIR)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("pr_builder_audit")
    assert list(jobs) == [], f"builder ran Spark jobs: {jobs}"
    assert df.columns == ["node", "rank_q"]
