"""``corpus_curate``: the registry stages that ``examples/curate_corpus.py``
composes, over a seeded corpus, closed loop.

Each pass runs six stages (quality, exact dedup, near-dup components,
semantic dedup, decontamination, split) and collects each stage's
per-document verdicts to the driver. The example's joins of those
verdicts, and its profile, span-hygiene and domain-cap stages, are
left out. No lake and no stream: this is the workload every lake or
streaming change should leave alone. After the timed part each
stage's rows are compared with its registry oracle SQL, which DuckDB
runs during set-up in a process of its own.
"""

from __future__ import annotations

import os
import pickle
import subprocess
import sys
import time

import numpy as np

from lapidus_spark.functions.corpus import ext_decontaminate
from lapidus_spark.functions.dedup import ext_dedup_components, ext_dedup_exact
from lapidus_spark.functions.pipeline import ext_quality_logit, ext_split_hash
from lapidus_spark.functions.similarity import build_ivf_index, ext_semdedup
from lapidus_spark.plans.registry import load_all

from perfbench import gen, oracle
from perfbench.spans import median, pct

#: (span / metric name, registry query) in pipeline order
STAGES = (
    ("quality", ext_quality_logit),
    ("exact", ext_dedup_exact),
    ("near_dup", ext_dedup_components),
    ("semantic", ext_semdedup),
    ("decontam", ext_decontaminate),
    ("split", ext_split_hash),
)


def stage_oracles(corpus: str) -> dict[str, list[dict]]:
    """Each stage's rows as its registry oracle SQL gives them."""
    reg = load_all()
    con = oracle.corpus_oracle(corpus)
    try:
        return {name: oracle.rows(con, reg[fn.__name__].oracle) for name, fn in STAGES}
    finally:
        con.close()


class Curate:
    N_DOCS = 300
    #: a pass takes 4-6 s whatever N_DOCS is (its ~48 Spark jobs set the
    #: time), so an 8 s run may fit only two; p90 needs three
    MIN_PASSES = 3

    def __init__(self, ctx, work: str):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.corpus = os.path.join(work, "corpus")
        self.passes: list = []
        self.failed = 0
        self.attempted = 0

    def setup(self) -> None:
        gen.write_corpus(np.random.default_rng(self.ctx.seed), self.N_DOCS, self.corpus)
        # the oracles need only the corpus, so they run beside the rest of
        # the set-up; their own process keeps DuckDB's memory out of
        # peak_rss_mb and has ended before the timed part
        oracles = subprocess.Popen(
            [sys.executable, "-m", "perfbench.curate", self.corpus], stdout=subprocess.PIPE
        )
        # the IVF index is ingest-time work (bench.py builds it untimed too)
        build_ivf_index(self.spark, self.corpus)
        self.last = self._pass()  # warm-up
        out, _ = oracles.communicate()
        if oracles.returncode:
            raise RuntimeError(f"stage oracles exited with {oracles.returncode}")
        self.want = pickle.loads(out)

    def _pass(self):
        verdicts: dict[str, list[dict]] = {}
        with self.tracer.span("curate.pass", new_op=True) as sp:
            for name, fn in STAGES:
                with self.tracer.span(f"curate.{name}"):
                    verdicts[name] = [r.asDict() for r in fn(self.spark, self.corpus).collect()]
        return sp, verdicts

    def measure(self) -> None:
        end = time.time() + self.ctx.seconds
        while time.time() < end or self.attempted < self.MIN_PASSES:
            self.attempted += 1
            try:
                self.last = self._pass()
            except Exception as exc:  # noqa: BLE001 — counted, the run goes on
                print(f"perfbench: curation pass failed: {exc}", flush=True)
                self.failed += 1
                continue
            self.passes.append(self.last[0])

    def check(self) -> tuple[int, int]:
        _, verdicts = self.last
        bad = [name for name, _ in STAGES if not oracle.same_rows(self.want[name], verdicts[name])]
        for name in bad:
            print(f"perfbench: {name} differs from its oracle", flush=True)
        return self.attempted + len(STAGES), self.failed + len(bad)

    def report(self):
        ms = [p.ms for p in self.passes]
        e2e = {
            "latency_ms_p50": median(ms),
            "latency_ms_p90": pct(ms, 90),
            "throughput_per_s": self.N_DOCS * len(ms) / (sum(ms) / 1000.0) if ms else 0.0,
        }
        ids = {p.id for p in self.passes}
        stage_spans = [s for s in self.tracer.spans if s.parent in ids]
        n = len(self.passes) or 1
        layers = {
            f"curate.{name}_ms": median([s.ms for s in stage_spans if s.name == f"curate.{name}"])
            for name, _ in STAGES
        }
        layers.update(
            {
                "curate.spark_jobs": sum(len(s.jobs) for s in stage_spans) / n,
                "curate.executor_ms": sum(s.job_sum("executor_ms") for s in stage_spans) / n,
                "curate.shuffle_bytes": sum(s.job_sum("shuffle_bytes") for s in stage_spans) / n,
            }
        )
        named = {
            "curate_docs_per_s": e2e["throughput_per_s"],
            "curate_pass_ms_p50": e2e["latency_ms_p50"],
            "passes": len(ms),
        }
        return e2e, layers, named

    def close(self) -> None:
        pass


if __name__ == "__main__":
    pickle.dump(stage_oracles(sys.argv[1]), sys.stdout.buffer)
