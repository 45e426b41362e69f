#!/usr/bin/env python3
"""Run one workload over several seeds and report each end-to-end
metric's median and run-to-run spread (interquartile range over
median, from ``statistics.quantiles(values, n=4)``).

    python3 perfbench/spread.py --workload cdc_stream --seeds 1-10 --seconds 8

Runs that ``run.py`` marked contended (other processes busy on the
host while the run measured) are listed and left out of the medians
and spreads, so contention is not read as a regression.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def _seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", default="8")
    p.add_argument("--trace", default="0")
    a = p.parse_args(argv)
    runs = []
    for seed in _seeds(a.seeds):
        cmd = [sys.executable, str(RUN), "--workload", a.workload, "--seed", str(seed),
               "--seconds", a.seconds, "--trace", a.trace]
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        detail, result = json.loads(lines[-2]), json.loads(lines[-1])
        runs.append((seed, detail, result))
        m = {k: round(v["value"], 2) for k, v in result["metrics"].items()}
        c = detail["contention"]
        flag = (f" other={c['other_cpu_frac']:.3f} steal={c['steal_frac']:.3f}"
                + (" CONTENDED" if c["contended"] else ""))
        print(f"seed {seed}: correct={result['correct']} failed={result['failed']}/"
              f"{result['attempted']}{flag} {m}", flush=True)
    kept = [r for r in runs if not r[1]["contention"]["contended"]]
    print(f"{len(kept)} of {len(runs)} runs uncontended")
    for name in runs[0][2]["metrics"]:
        vals = [r[2]["metrics"][name]["value"] for r in kept]
        med = statistics.median(vals) if vals else 0.0
        print(f"  {name:28s} median {med:12.3f}  spread {spread(vals):6.3f}")
    return 0 if all(r[2]["correct"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
