#!/usr/bin/env python3
"""lapidus_spark benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload cdc_stream --seed 1 --seconds 8 --trace 0

Run from the root of a source checkout. The last line of stdout is
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics of BENCHMARK.json, with ``--trace 1`` the
per-layer ones (spans are also written to ``.perfbench_out/``). The
line before it carries the workload's own metric names and the host
contention record. Every file the run writes stays under the checkout;
the scratch directory is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORKLOADS = ("cdc_stream", "cdc_backfill", "lake_serve", "corpus_curate")
#: Spark task threads: the benchmark sizes every workload for a
#: 4-core host shared with the benchmark's own driver and generator
CORES = 2


class Context:
    """What every workload gets: the session, the tracer, the run's
    arguments and a scratch directory inside the checkout."""

    def __init__(self, spark, tracer, args, work: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = args.seed % 2**64  # numpy seeds must not be negative
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str) -> None:
    """Keep every file the run writes inside the checkout, and let
    Spark's Python workers import the library: the ``lake_cdf`` and
    ``format("lake")`` data sources run there."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    for sub in ("tmp", "local", "jtmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        p
        for p in (
            os.environ.get("SPARK_SUBMIT_OPTS"),
            f"-Djava.io.tmpdir={os.path.join(work, 'jtmp')}",
            "-XX:-UsePerfData",
            # a heap that starts at its 1 GB cap: G1 resizing it on its
            # own schedule moved peak RSS and speed from run to run
            "-Xms1g",
        )
        if p
    )
    tempfile.tempdir = os.path.join(work, "tmp")
    sys.path.insert(0, str(ROOT))


def _workload(name: str):
    if name in ("cdc_stream", "cdc_backfill"):
        from perfbench import cdc

        return cdc.Stream if name == "cdc_stream" else cdc.Backfill
    if name == "lake_serve":
        from perfbench import serve

        return serve.Serve
    from perfbench import curate

    return curate.Curate


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM and every process under this one."""
    from pyspark import SparkContext

    from perfbench import host

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 — already gone is fine at teardown
            pass
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — reaped below
                pass
    host.reap([p for p in host.process_tree() if p != os.getpid()])


def main(argv=None) -> int:
    args = _args(argv)
    if not (ROOT / "lapidus_spark" / "__init__.py").is_file():
        print(f"perfbench: no lapidus_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(ROOT / "BENCHMARK.json") as fh:
        spec = json.load(fh)
    chosen = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    work = str(ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work)
    t_session = time.time()
    try:
        from lapidus_spark.session import get_spark

        from perfbench import host
        from perfbench.spans import Tracer
    except ImportError as exc:
        print(f"perfbench: cannot import the library: {exc}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    spark = get_spark("perfbench", cpus=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.time() - t_session
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = Context(spark, tracer, args, work)
        wl = _workload(args.workload)(ctx, os.path.join(work, "run"))
        wl.setup()
        setup_s = time.time() - t_session
        window = host.HostWindow()
        window.start()
        t0 = time.time()
        wl.measure()
        contention = window.stop()
        wall_s = time.time() - t0
        # before the checks: their oracles are the harness's memory, not the program's
        rss = host.peak_rss_mb(host.process_tree())
        attempted, failed = wl.check()
        out = None
        if args.trace:
            (ROOT / ".perfbench_out").mkdir(exist_ok=True)
            out = str(ROOT / ".perfbench_out" / f"trace-{args.workload}-{args.seed}.jsonl")
        tracer.finish(out)
        e2e, layers, named = wl.report()
        wl.close()
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's scratch is still there
    e2e["setup_s"] = setup_s
    e2e["peak_rss_mb"] = rss
    executor_ms = sum(
        j["executor_ms"] for sp in tracer.spans if sp.start >= t0 for j in sp.jobs
    )
    layers["host.other_cpu_frac"] = contention["other_cpu_frac"]
    layers["host.steal_frac"] = contention["steal_frac"]
    layers["host.contended"] = int(contention["contended"])
    layers["host.contention_ratio"] = (
        wall_s * 1000.0 * CORES / executor_ms if executor_ms else 0.0
    )
    layers["trace.overhead_frac"] = tracer.overhead_s / wall_s if wall_s else 0.0
    named.update(
        setup_s=e2e["setup_s"],
        peak_rss_mb=rss,
        error_rate=failed / attempted if attempted else 1.0,
    )
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "metrics": named,
        "session_s": session_s,
        "measured_wall_s": wall_s,
        "contention": contention,
    }
    print(json.dumps(detail))
    if contention["contended"]:
        print(
            f"perfbench: CONTENDED run — other processes used "
            f"{contention['other_cpu_frac']:.0%} of the host's CPU",
            file=sys.stderr,
        )
    values = layers if args.trace else e2e
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": float(values.get(k, 0.0)), "unit": unit} for k, unit in chosen.items()
        },
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
