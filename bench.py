#!/usr/bin/env python
"""Benchmark harness: run every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print
ONE JSON line {"metric", "value", "unit", "queries", "sf"} — followed
by a digest twin of that line (same metric/value from the same timed
pass) that fits the driver's bounded stdout-tail parser and covers
every query through a per-family rollup, a count and a hash; see the
note above the digest print.

Timing protocol: one warm JVM/session (the driver measures engine
work, not JVM startup), each query materialized via a noop-style
count()+collect-free action so results stream through the executors
without driver-side row materialization skewing the numbers.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

from lapidus_spark.plans.registry import load_all
from lapidus_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("lapidus_spark_bench", cpus=cpus)
    reg = load_all()

    # Pre-build harness inputs for the streaming replay queries at the
    # TARGET sf: stream_tx_assembly replays a generated marker dir —
    # building it is setup, not operator work, and must not land in
    # the timed pass.
    from lapidus_spark.functions.dedup import build_fingerprint_index, build_ngram_index
    from lapidus_spark.functions.pipeline import build_corpus_shards
    from lapidus_spark.functions.similarity import (
        build_ivf_incremental_index,
        build_ivf_index,
    )
    from lapidus_spark.functions.text import build_df_index
    from lapidus_spark.operators.graph import build_trade_graph
    from lapidus_spark.sources.formats import (
        build_csv_capture,
        build_evolved_parquet,
        build_jsonl_capture,
        build_orc_capture,
    )
    from lapidus_spark.sources.jsoncdc import (
        build_jsoncdc_corrupt_replay,
        build_jsoncdc_replay,
    )
    from lapidus_spark.functions.similarity import build_pq_index, build_pq_trained_index
    from lapidus_spark.streaming.queries import (
        build_catalog_2tx,
        build_catalog_cdf_fixture,
        build_clustered_lake,
        build_concurrent_lake,
        build_evolved_lake,
        build_late_replay,
        build_maintenance_lake,
        build_merge_replay,
        build_renamed_lake,
        build_snapshot_replay,
        build_sql_written_lake,
        build_tx_replay_input,
        build_versioned_lake,
        build_widened_lake,
    )

    # One-time fixture construction is SETUP, not operator work: each
    # build is timed into the separate "fixtures" block so the
    # per-query line items read on steady-state query cost alone
    # (VERDICT r7 #3 — the five lake queries' r7 numbers carried ~14 s
    # of lake construction). The lake builders are process-cached per
    # sf_dir, so the timed pass hits the cache.
    fixture_times: dict[str, float] = {}
    for builder in (
        build_tx_replay_input,
        build_merge_replay,
        build_jsoncdc_replay,
        build_jsoncdc_corrupt_replay,
        build_late_replay,
        build_csv_capture,
        build_evolved_parquet,
        build_jsonl_capture,
        build_orc_capture,
        build_fingerprint_index,
        build_df_index,
        build_corpus_shards,
        build_ivf_index,
        build_ivf_incremental_index,
        build_ngram_index,
        build_trade_graph,
        build_versioned_lake,
        build_maintenance_lake,
        build_concurrent_lake,
        build_clustered_lake,
        # Round 13: the remaining PROCESS-CACHED builders, so the
        # timed pass hits every cache (same r7 rationale — fixture
        # construction is setup, not operator work; its cost stays
        # visible in the separate "fixtures" block). Before this, the
        # alphabetically-first consumer of each cache paid its build
        # in its own line item (e.g. lake_sql_write carried the whole
        # 4-commit df.write fixture; catalog_sql_read the 3-tx/6-merge
        # catalog build — BENCH.md r12 notes the same for
        # catalog_sql_read vs stream_catalog_cdf).
        build_catalog_cdf_fixture,
        build_catalog_2tx,
        build_sql_written_lake,
        build_evolved_lake,
        build_widened_lake,
        build_renamed_lake,
        build_snapshot_replay,
        build_pq_index,
        build_pq_trained_index,
    ):
        t0 = time.perf_counter()
        try:
            builder(spark, sf_dir)
        except Exception as e:  # noqa: BLE001 — dependents fail individually
            print(f"# setup {builder.__name__} failed: {e}", file=sys.stderr)
            continue
        fixture_times[builder.__name__] = round(time.perf_counter() - t0, 4)

    # Execution order: batch cohort first, streaming cohort LAST.
    # Round 4/5 showed a decaying post-streaming-cohort JVM transient
    # (2-8x one-off spikes) landing on whichever BATCH queries ran
    # right after the 23-query stream_* stretch — alphabetical order
    # put src_*/top_*/win_* exactly there. Running batch from the
    # quiet JVM and streaming at the end keeps the transient out of
    # the batch record entirely (VERDICT r5 #6).
    order = [n for n in sorted(reg) if not n.startswith("stream_")] + [
        n for n in sorted(reg) if n.startswith("stream_")
    ]

    # Warm pass at the smallest SF: triggers codegen/JIT of every
    # query shape once, so the timed numbers measure engine work on
    # the target data, not first-use compilation. Same order as the
    # timed pass, so warmup's own streaming stretch (tiny, sf0.001)
    # also sits at the maximum distance from the timed batch cohort.
    warm_dir = "/root/testdata/sf0.001"
    for name in order:
        try:
            reg[name].fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 — warmup must not kill the bench
            print(f"# warmup {name} failed: {e}", file=sys.stderr)
    for t in spark.catalog.listTables():
        if t.isTemporary and t.name.endswith("_out"):
            spark.catalog.dropTempView(t.name)

    timings: dict[str, float | None] = {}
    total = 0.0
    failures = 0
    for name in order:
        fn = reg[name].fn
        t0 = time.perf_counter()
        # Per-query exception isolation: one broken query must never
        # zero the whole round's bench evidence (round-2 lesson —
        # BENCH_r02.json recorded rc=1 and nothing else).
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001
            timings[name] = None
            failures += 1
            print(f"# {name}: FAILED {type(e).__name__}: {e}", file=sys.stderr)
            continue
        dt = time.perf_counter() - t0
        timings[name] = round(dt, 4)
        total += dt
        print(f"# {name}: {dt:.3f}s", file=sys.stderr)
        # streaming queries materialize through memory sinks; drop the
        # result tables so retained rows don't pressure later timings
        for t in spark.catalog.listTables():
            if t.isTemporary and t.name.endswith("_out"):
                spark.catalog.dropTempView(t.name)
        # (A System.gc() settle after each streaming query was A/B
        # tested in round 5 and made things WORSE — 155.0 s vs
        # 134.7 s control, with the per-query transient landing
        # anyway; forced full GCs across 32 threads cost more than
        # they reclaim. Protocol stays untouched — BENCH.md.)

    # Streaming throughput (BASELINE.md bench protocol): replay the
    # events table through the envelope pipeline as a real stream into
    # a noop sink; report rows/sec. Cold streaming-machinery cost was
    # absorbed by the warmup pass above.
    import tempfile

    from lapidus_spark.sources.cdc import normalize_events
    from lapidus_spark.streaming.sources import stream_events

    streaming_stats = None
    try:
        n_rows = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).count()
        env = normalize_events(stream_events(spark, sf_dir))
        t0 = time.perf_counter()
        q = (
            env.writeStream.format("noop")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="bench_stream_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        stream_wall = time.perf_counter() - t0
        # micro-batch latency from the engine's own progress metrics (the
        # reference's 1-3 ms end-to-end claim analog, BASELINE.md)
        last = q.lastProgress or {}
        batch_ms = (last.get("durationMs") or {}).get("triggerExecution")
        streaming_stats = {
            "envelope_replay_rows": n_rows,
            "envelope_replay_wall_s": round(stream_wall, 4),
            "envelope_replay_rows_per_sec": round(n_rows / stream_wall, 1),
            "micro_batch_ms": batch_ms,
        }
        print(
            f"# streaming envelope replay: {n_rows} rows in {stream_wall:.3f}s",
            file=sys.stderr,
        )
    except Exception as e:  # noqa: BLE001 — same isolation as the timed loop
        print(f"# streaming replay FAILED {type(e).__name__}: {e}", file=sys.stderr)

    # Executed-stream telemetry recorded by the runners during the
    # timed pass (plans/audit.py): per streaming query, how many
    # micro-batches ran and how much state lived on how many
    # partitions — the round-over-round scale evidence for the
    # stateful layer, free to emit since the runs already happened.
    from lapidus_spark.plans.audit import STREAM_RUN_FACTS

    stream_state = {
        name: {
            "batches": f.n_batches,
            "state_rows": f.state_rows_total,
            "state_partitions": f.max_state_partitions,
            "state_ops": f.plan_ops,
        }
        for name, f in sorted(STREAM_RUN_FACTS.items())
    }

    payload = json.dumps(
        {
            "metric": "total_query_wall_clock",
            "value": round(total, 4),
            "unit": "sec",
            "queries": timings,
            "failed_queries": failures,
            "fixtures": fixture_times,
            "fixtures_total": round(sum(fixture_times.values()), 4),
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            "streaming": streaming_stats,
            "stream_state": stream_state,
        }
    )
    print(payload)
    # The driver captures only a bounded stdout tail, which truncated
    # the round-3 record (total + ~38 per-query numbers lost). Persist
    # the complete JSON next to the script so every round's full bench
    # is reconstructable from git alone.
    out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_out.json")
    try:
        with open(out_path, "w") as fh:
            fh.write(payload + "\n")
    except OSError as e:
        print(f"# could not persist {out_path}: {e}", file=sys.stderr)

    # The driver parses its bench record from a bounded ~2000-char
    # stdout TAIL, and the full line above cannot fit (the 186 query
    # names alone are >3K chars). So the final stdout line is a DIGEST
    # that covers every query deterministically: the same
    # metric/value/unit/sf, the query count, a per-family rollup
    # (family = name prefix before the first "_") of [queries, failed,
    # seconds], and the sha256 of the sorted per-query lines
    # "name<TAB>seconds" of the full record (bench_out.json, seconds
    # as recorded there, None for a failure). A partial per-query map
    # made every query that fell off it read as dropped; the rollup
    # tells "fast now" from "gone", and the hash ties the digest to
    # the full record.
    families: dict[str, list] = {}
    for name, v in timings.items():
        fam = families.setdefault(name.split("_", 1)[0], [0, 0, 0.0])
        fam[0] += 1
        if v is None:
            fam[1] += 1
        else:
            fam[2] += v
    lines = "\n".join(sorted(f"{k}\t{v}" for k, v in timings.items()))
    digest = json.dumps(
        {
            "metric": "total_query_wall_clock",
            "value": round(total, 4),
            "unit": "sec",
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            "digest": True,
            "queries_timed": len(timings),
            "failed_queries": failures,
            "families": {
                k: [n, bad, round(sec, 2)] for k, (n, bad, sec) in sorted(families.items())
            },
            "queries_sha256": hashlib.sha256(lines.encode()).hexdigest(),
            "full_record": "bench_out.json",
        },
        separators=(",", ":"),
    )
    print(digest)
    spark.stop()


if __name__ == "__main__":
    main()
