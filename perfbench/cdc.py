"""The two CDC workloads: ``cdc_stream`` (the daemon's file → lake path,
open loop) and ``cdc_backfill`` (back-to-back large merges, closed loop).

Both check the final lake against the DuckDB last-writer-wins snapshot
over every event they generated.
"""

from __future__ import annotations

import glob
import json
import math
import os
import time

import numpy as np

from lapidus_spark.config import parse_config
from lapidus_spark.lake.log import LOG_DIR, MANIFEST_NAME
from lapidus_spark.lake.merge import merge_batch_into_lake
from lapidus_spark.lake.stats import describe_detail
from lapidus_spark.sources.cdc import normalize_events
from lapidus_spark.streaming import pipeline

from perfbench import gen, oracle
from perfbench.spans import StreamListener, median, pct

EVENTS_DDL = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


class LogProbe:
    """Reads each commit-log entry of a lake right after it lands: the
    log keeps entries only back to the newest checkpoint at or below
    the retention floor, so reading them later would miss most."""

    def __init__(self, lake: str):
        self.lake = lake
        self.versions: list[dict] = []
        self._seen = self._live()

    def _live(self) -> int:
        try:
            with open(os.path.join(self.lake, MANIFEST_NAME)) as fh:
                return int(json.load(fh)["version"])
        except FileNotFoundError:
            return 0

    def poll(self) -> None:
        live = self._live()
        for v in range(self._seen + 1, live + 1):
            base = os.path.join(self.lake, LOG_DIR, f"{v:010d}")
            try:
                with open(base + ".json") as fh:
                    raw = fh.read()
            except FileNotFoundError:
                continue
            size = len(raw) + os.path.getsize(os.path.join(self.lake, MANIFEST_NAME))
            if os.path.exists(base + ".checkpoint.json"):
                size += os.path.getsize(base + ".checkpoint.json")
            delta = json.loads(raw)
            self.versions.append(
                {
                    "version": v,
                    "data_change": bool(delta.get("data_change")),
                    "touched": len(delta.get("touched", ())),
                    "bytes": size,
                }
            )
        self._seen = max(self._seen, live)


class LakeWorkload:
    """Shared set-up and reporting of the two lake-writing workloads."""

    N_KEYS = 0
    BASE_EVENTS = 0

    def __init__(self, ctx, work: str):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.work = work
        self.inputs = os.path.join(work, "inputs")
        self.lake = os.path.join(work, "lake")
        os.makedirs(self.inputs, exist_ok=True)
        self.source = gen.EventStream(np.random.default_rng(ctx.seed), self.N_KEYS)
        self.event_files: list[str] = []
        self.failed = 0
        self.attempted = 0
        self.log: LogProbe | None = None

    def _input(self, name: str, n: int) -> str:
        path = os.path.join(self.inputs, name)
        gen.publish(self.source.batch(n), path)
        self.event_files.append(path)
        return path

    def _merge(self, path: str):
        with self.tracer.span("lake.merge", new_op=True) as sp:
            merge_batch_into_lake(
                normalize_events(self.spark.read.schema(EVENTS_DDL).parquet(path)), self.lake
            )
        return sp

    def _build_base(self) -> None:
        self._merge(self._input("base.parquet", self.BASE_EVENTS))

    def check(self) -> tuple[int, int]:
        bad = oracle.lake_mismatches(self.spark, self.lake, self.event_files, self.work)
        if bad:
            print(f"perfbench: lake differs from the LWW oracle in {bad} rows", flush=True)
        return self.attempted + 1, self.failed + (1 if bad else 0)

    def _lake_layers(self, merge_spans) -> dict:
        """Per-layer figures of ``lake.merge`` / ``lake.log`` from the
        timed merges' spans, the probed log entries and the lake's files."""
        n = len(merge_spans) or 1
        versions = self.log.versions
        data = [v["touched"] for v in versions if v["data_change"]]
        on_disk = sum(
            1 for _ in glob.iglob(os.path.join(self.lake, "**", "*.parquet"), recursive=True)
        )
        return {
            "merge.calls": len(merge_spans),
            "merge.spark_jobs_per_call": sum(len(s.jobs) for s in merge_spans) / n,
            "merge.executor_ms_per_call": sum(s.job_sum("executor_ms") for s in merge_spans) / n,
            "merge.gc_ms_per_call": sum(s.job_sum("gc_ms") for s in merge_spans) / n,
            "merge.shuffle_bytes_per_call": sum(s.job_sum("shuffle_bytes") for s in merge_spans) / n,
            "merge.buckets_rewritten_per_call": sum(data) / len(data) if data else 0.0,
            "log.bytes_per_version": (
                sum(v["bytes"] for v in versions) / len(versions) if versions else 0.0
            ),
            "lake.files_live": describe_detail(self.lake)["num_files"],
            "lake.files_on_disk": on_disk,
        }

    def close(self) -> None:
        pass


class Backfill(LakeWorkload):
    """Closed loop: one caller merges a backlog of large change files
    back to back with ``merge_batch_into_lake``. The Spark work of
    ``lake.merge`` (LWW combine, bucket read-back, staging write)
    dominates and the streaming layer is bypassed."""

    N_KEYS = 1_000_000
    BASE_EVENTS = 100_000
    FILE_EVENTS = 50_000

    def setup(self) -> None:
        self._build_base()
        # the first merge that reads buckets back is slower than the
        # steady ones; keep it out of the timed part
        self._merge(self._input("warmup.parquet", self.FILE_EVENTS))
        self.merges = []

    def measure(self) -> None:
        """Merge until the summed merge time reaches ``--seconds``; the
        next file is generated between merges, outside the timing."""
        self.log = LogProbe(self.lake)
        busy, i = 0.0, 0
        give_up = time.time() + 3 * self.ctx.seconds
        while busy < self.ctx.seconds and time.time() < give_up:
            path = self._input(f"backlog-{i:04d}.parquet", self.FILE_EVENTS)
            self.attempted += 1
            try:
                sp = self._merge(path)
            except Exception as exc:  # noqa: BLE001 — counted, the run goes on
                print(f"perfbench: merge failed: {exc}", flush=True)
                self.failed += 1
                continue
            finally:
                i += 1
            self.merges.append(sp)
            busy += sp.ms / 1000.0
            if self.ctx.trace:
                self.log.poll()
        self.busy_s = busy

    def report(self):
        ms = [s.ms for s in self.merges]
        events = len(self.merges) * self.FILE_EVENTS
        e2e = {
            "latency_ms_p50": median(ms),
            "latency_ms_p90": pct(ms, 90),
            "throughput_per_s": events / self.busy_s if self.busy_s else 0.0,
        }
        layers = self._lake_layers(self.merges)
        layers["merge.ms_p50"] = e2e["latency_ms_p50"]
        layers["commit.driver_ms_p50"] = median([s.driver_ms() for s in self.merges])
        named = {
            "backfill_events_per_s": e2e["throughput_per_s"],
            "merge_ms_p50": e2e["latency_ms_p50"],
            "merge_ms_p90": e2e["latency_ms_p90"],
            "merges": len(ms),
        }
        return e2e, layers, named


class Stream(LakeWorkload):
    """Open loop: the benchmark publishes a small change file every
    ``INTERVAL_S`` into the ``file`` backend directory of a daemon
    started with ``streaming.pipeline.run`` (lake sink, trigger
    "0 seconds"). Small batches make the per-trigger fixed cost (the
    streaming engine plus the ``lake.log`` commit) dominate."""

    N_KEYS = 200_000
    BASE_EVENTS = 20_000
    FILE_EVENTS = 160
    #: 100 files in an 8 s run, the fewest a steady p90 needs
    INTERVAL_S = 0.08
    DRAIN_TIMEOUT_S = 60.0

    def setup(self) -> None:
        self._build_base()
        self.src = os.path.join(self.work, "changes")
        os.makedirs(self.src)
        # the file backend takes its schema from events.parquet; it is
        # also the first (warm-up) micro-batch
        path = os.path.join(self.src, "events.parquet")
        gen.publish(self.source.batch(self.FILE_EVENTS), path)
        self.event_files.append(path)
        n = math.ceil(self.ctx.seconds / self.INTERVAL_S)
        self.pending = [self.source.batch(self.FILE_EVENTS) for _ in range(n)]
        cfg = parse_config(
            json.dumps(
                {
                    "backends": [
                        {
                            "name": "bench",
                            "type": "file",
                            "path": self.src,
                            "sinks": [
                                {"type": "lake", "options": {"path": self.lake, "trigger": "0 seconds"}}
                            ],
                        }
                    ]
                }
            )
        )
        self.log = LogProbe(self.lake)
        self.listener = StreamListener(self.tracer, on_progress=self.log.poll)
        self.spark.streams.addListener(self.listener)
        self.listening = True
        self.ckpt = os.path.join(self.work, "ckpt")
        (self.query,) = pipeline.run(self.spark, cfg, checkpoint_root=self.ckpt, await_termination=False)
        self._await_batches({"events.parquet"})

    def _file_batches(self) -> dict[str, int]:
        """File name → micro-batch id, from the checkpoint's file-source
        log (compacted ``N.compact`` files included)."""
        out: dict[str, int] = {}
        for p in glob.glob(os.path.join(self.ckpt, "*", "sources", "0", "*")):
            name = os.path.basename(p)
            if name.startswith(".") or name.endswith(".tmp"):
                continue
            try:
                with open(p) as fh:
                    lines = fh.read().splitlines()[1:]  # first line: log version
            except OSError:
                continue
            for line in lines:
                if line.strip():
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
        return out

    def _await_batches(self, names: set[str]) -> dict[str, int]:
        """Wait until every named file's micro-batch has reported its
        progress (the trigger that committed it to the lake ended)."""
        deadline = time.time() + self.DRAIN_TIMEOUT_S
        while time.time() < deadline:
            if self.query.exception() is not None:
                raise RuntimeError(f"stream failed: {self.query.exception()}")
            fb = self._file_batches()
            if names <= fb.keys() and all(fb[n] in self.listener.triggers for n in names):
                return fb
            time.sleep(0.02)
        raise TimeoutError(f"stream did not commit {len(names)} files in {self.DRAIN_TIMEOUT_S}s")

    def measure(self) -> None:
        """Publish each file at its scheduled time, whatever the daemon
        is doing, then wait until the daemon has committed them all."""
        self.log.versions.clear()
        t0 = time.time() + 0.05
        names = [f"events_{i:05d}.parquet" for i in range(len(self.pending))]
        due = [t0 + i * self.INTERVAL_S for i in range(len(names))]
        published = []
        for name, at, table in zip(names, due, self.pending):
            time.sleep(max(0.0, at - time.time()))
            path = os.path.join(self.src, name)
            gen.publish(table, path)
            published.append(time.time())
            self.event_files.append(path)
        self.attempted = len(names)
        try:
            fb = self._await_batches(set(names))
        except TimeoutError as exc:
            print(f"perfbench: {exc}", flush=True)
            fb = self._file_batches()
        trig = self.listener.triggers
        #: (due, published, batch) of every file the daemon committed
        self.files = [
            (d, p, fb[n]) for n, d, p in zip(names, due, published) if fb.get(n) in trig
        ]
        self.failed += len(names) - len(self.files)
        self.start = t0

    def check(self) -> tuple[int, int]:
        self.close()
        return super().check()

    def report(self):
        batches = {b for _, _, b in self.files}
        trig = [t for b, t in sorted(self.listener.triggers.items()) if b in batches]
        fresh = [(self.listener.triggers[b]["end"] - d) * 1000.0 for d, _, b in self.files]
        te = [t["duration_ms"].get("triggerExecution", 0) for t in trig]
        ab = [t["duration_ms"].get("addBatch", 0) for t in trig]
        end = max((t["end"] for t in trig), default=self.start)
        e2e = {
            "latency_ms_p50": median(fresh),
            "latency_ms_p90": pct(fresh, 90),
            "throughput_per_s": (
                len(self.files) * self.FILE_EVENTS / (end - self.start) if self.files else 0.0
            ),
        }
        # files already published when a trigger started but left to it
        # or a later one
        backlog = [
            sum(1 for _, p, b in self.files if p < t["start"] and b >= t["batch"]) for t in trig
        ]
        spans = [t["span"] for t in trig if t["span"] is not None]
        layers = {
            "streaming.triggers": len(trig),
            "streaming.trigger_ms_p50": median(te),
            "streaming.addbatch_ms_p50": median(ab),
            "streaming.engine_ms_p50": median([a - b for a, b in zip(te, ab)]),
            "streaming.files_per_trigger": len(self.files) / len(trig) if trig else 0.0,
            "streaming.backlog_files_max": max(backlog, default=0),
            "merge.ms_p50": median(ab),
            "gen.late_ms_max": max((1000.0 * (p - d) for d, p, _ in self.files), default=0.0),
        }
        layers.update(self._lake_layers(spans))
        if spans:
            # all of a trigger's jobs run inside addBatch, so its driver
            # share is addBatch minus the union of the job intervals
            layers["commit.driver_ms_p50"] = median(
                [
                    t["duration_ms"].get("addBatch", 0) - (t["span"].ms - t["span"].driver_ms())
                    for t in trig
                    if t["span"] is not None
                ]
            )
        named = {
            "freshness_ms_p50": e2e["latency_ms_p50"],
            "freshness_ms_p90": e2e["latency_ms_p90"],
            "freshness_samples": len(fresh),
        }
        return e2e, layers, named

    def close(self) -> None:
        q = getattr(self, "query", None)
        if q is not None and q.isActive:
            q.stop()
        if getattr(self, "listening", False):
            self.spark.streams.removeListener(self.listener)
            self.listening = False
