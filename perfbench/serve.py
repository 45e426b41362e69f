"""``lake_serve``: reads between writes.

One closed loop alternates a small ``merge_batch_optimistic`` commit
with a fixed cycle of point, snapshot, change and time-window reads
(about 3 s per cycle) against a lake compacted with
``compact_lake(cluster_by=...)``, so zone maps exist. Every read is
pinned to a committed version, the compacted one or the newest, and
sees the log, manifests and garbage the commits leave behind. The
commits do not run beside the reads: a writer thread on its own clock
overlapped a different subset of reads in every run, splitting each
read kind into two modes and moving the read median by 15% between
runs. After the timed part each answer is compared with the state the
generated events imply at its version.
"""

from __future__ import annotations

import time
from datetime import datetime, timezone

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from lapidus_spark.lake import merge as lake_merge
from lapidus_spark.lake.admin import compact_lake
from lapidus_spark.lake.merge import merge_batch_optimistic
from lapidus_spark.lake.stats import (
    lake_changes,
    lake_point_read,
    lake_time_read,
    read_lake_snapshot,
)
from lapidus_spark.sources.cdc import normalize_events

from perfbench import gen
from perfbench.cdc import EVENTS_DDL, LakeWorkload, LogProbe
from perfbench.spans import median, pct

#: one read cycle; "base" is the compacted version (zone maps present),
#: "live" the newest committed version. Half the reads are point reads,
#: so the median read falls inside one kind's cluster of latencies
#: instead of in the gap between two kinds.
MIX = (
    ("point", "live"),
    ("snapshot", "live"),
    ("point", "base"),
    ("time_window", "base"),
    ("point", "live"),
    ("changes", "live"),
)
READ_KINDS = ("point", "snapshot", "changes", "time_window")


class Serve(LakeWorkload):
    N_KEYS = 200_000
    BASE_EVENTS = 50_000
    WRITE_EVENTS = 300
    POINT_KEYS = 8
    #: covers every version a run can pin, so GC never removes one a
    #: reader may still open
    RETAIN = 64

    def setup(self) -> None:
        self.batches: list[tuple[int, str]] = []  # (version, event file)
        self._build_base()
        self.batches.append((1, self.event_files[-1]))
        self.base = compact_lake(
            self.spark,
            self.lake,
            max_records_per_file=4000,
            retain_versions=self.RETAIN,
            cluster_by=("entity_id", "last_ts"),
        )["version"]
        self.live = self.base
        self.rng = np.random.default_rng(self.ctx.seed + 1)
        self.hot = self.source.hot_keys(64)
        self.cold = self.source.cold_keys(4096)
        self.answers: list[dict] = []
        self.commits: list = []  # lake.commit spans
        self.windows = 0
        # one commit and one read of each kind warm the timed paths
        self._write()
        for kind in READ_KINDS:
            self._read(kind, "live")
        self.answers.clear()
        self.commits.clear()

    def _write(self) -> None:
        path = self._input(f"write-{len(self.batches):04d}.parquet", self.WRITE_EVENTS)
        df = normalize_events(self.spark.read.schema(EVENTS_DDL).parquet(path))
        with self.tracer.span("lake.commit", new_op=True) as sp:
            m = merge_batch_optimistic(df, self.lake, retain_versions=self.RETAIN)
        self.batches.append((int(m["version"]), path))
        self.live = int(m["version"])
        self.commits.append(sp)
        if self.log is not None:
            self.log.poll()

    def _read(self, kind: str, at: str) -> None:
        v = self.live if at == "live" else self.base
        a = {"kind": kind, "version": v}
        spark, lake = self.spark, self.lake
        with self.tracer.span(f"read.{kind}", new_op=True) as sp:
            try:
                if kind == "point":
                    keys = [int(k) for k in self.rng.choice(self.hot, self.POINT_KEYS // 2)]
                    keys += [int(k) for k in self.rng.choice(self.cold, self.POINT_KEYS // 2)]
                    a["keys"] = keys
                    a["rows"] = sorted(
                        tuple(r)
                        for r in lake_point_read(spark, lake, keys, version=v)
                        .select("entity_id", "last_seq", "last_type", "item")
                        .collect()
                    )
                elif kind == "snapshot":
                    a["rows"] = _digest(read_lake_snapshot(spark, lake, version=v))
                elif kind == "time_window":
                    # the same windows on every seed: stamps follow event
                    # order alone, so each window holds the same events
                    self.windows += 1
                    lo = gen.TS0_US + (self.windows * 1_777_000) % (
                        self.BASE_EVENTS // gen.TIE_WIDTH * 1000 - 5_000_000
                    )
                    a["window"] = (lo, lo + 5_000_000)
                    a["rows"] = _digest(
                        lake_time_read(spark, lake, _utc(lo), _utc(lo + 5_000_000), version=v)
                    )
                else:
                    a["from"] = self.base
                    a["rows"] = sorted(
                        tuple(r)
                        for r in lake_changes(spark, lake, from_version=self.base, to_version=v)
                        .select("entity_id", "change_type", "last_seq", "last_type", "item")
                        .collect()
                    )
            except Exception as exc:  # noqa: BLE001 — counted as a failed read
                a["error"] = f"{type(exc).__name__}: {exc}"
        a["ms"] = sp.ms
        a["span"] = sp
        self.answers.append(a)

    def measure(self) -> None:
        self.log = LogProbe(self.lake) if self.ctx.trace else None
        self.occ0 = (lake_merge.OCC_REBASES, lake_merge.OCC_CONFLICTS)
        self.write_errors = 0
        end = time.time() + self.ctx.seconds
        # whole cycles only, so every run samples the same mix
        while time.time() < end:
            try:
                self._write()
            except Exception as exc:  # noqa: BLE001 — counted, the run goes on
                print(f"perfbench: commit failed: {exc}", flush=True)
                self.write_errors += 1
            for kind, at in MIX:
                self._read(kind, at)
        self.occ = (
            lake_merge.OCC_REBASES - self.occ0[0],
            lake_merge.OCC_CONFLICTS - self.occ0[1],
        )

    def check(self) -> tuple[int, int]:
        events = pd.concat([_events(path).assign(ver=v) for v, path in self.batches])
        states: dict[int, pd.DataFrame] = {}

        def state(v: int) -> pd.DataFrame:
            if v not in states:
                ev = events[events.ver <= v].sort_values(["user_id", "ts_us", "event_id"])
                s = ev.groupby("user_id").tail(1).copy()
                s["entity_id"] = s.user_id.astype(str)
                s["last_type"] = s.event_type.map(
                    {"signup": "insert", "error": "delete"}
                ).fillna("update")
                states[v] = s.set_index("entity_id")
            return states[v]

        failed = self.write_errors
        for a in self.answers:
            if "error" in a or a["rows"] != _expected(a, state):
                failed += 1
                print(f"perfbench: wrong {a['kind']} read at v{a['version']}: {a.get('error', '')}")
        return len(self.answers) + len(self.commits) + self.write_errors, failed

    def report(self):
        ms = [a["ms"] for a in self.answers]
        e2e = {
            "latency_ms_p50": median(ms),
            "latency_ms_p90": pct(ms, 90),
            "throughput_per_s": 1000.0 * len(ms) / sum(ms) if ms else 0.0,
        }
        by_kind = {k: [a for a in self.answers if a["kind"] == k] for k in READ_KINDS}
        spans = [a["span"] for a in self.answers]
        n = len(spans) or 1
        layers = {
            f"read.{k}_ms_p50": median([a["ms"] for a in v]) for k, v in by_kind.items()
        }
        layers.update(
            {
                "read.spark_jobs_per_call": sum(len(s.jobs) for s in spans) / n,
                "read.driver_ms_per_call": sum(s.driver_ms() for s in spans) / n,
                "read.input_bytes_per_call": sum(s.job_sum("input_bytes") for s in spans) / n,
                "serve.commit_ms_p50": median([c.ms for c in self.commits]),
                "occ.rebases": self.occ[0],
                "occ.conflicts": self.occ[1],
            }
        )
        if self.log is not None:
            layers.update(self._lake_layers(self.commits))
            layers["merge.ms_p50"] = layers["serve.commit_ms_p50"]
            layers["commit.driver_ms_p50"] = median([c.driver_ms() for c in self.commits])
        named = {
            "read_ms_p50": e2e["latency_ms_p50"],
            "read_ms_p90": e2e["latency_ms_p90"],
            "reads": len(ms),
            "serve_commit_ms_p50": layers["serve.commit_ms_p50"],
            "commits": len(self.commits),
        }
        return e2e, layers, named


def _events(path: str) -> pd.DataFrame:
    t = pq.read_table(path)
    t = t.append_column("ts_us", t["ts"].cast(pa.int64()))
    return t.drop_columns(["ts"]).to_pandas()


def _utc(us: int) -> datetime:
    return datetime.fromtimestamp(us / 1e6, tz=timezone.utc)


def _digest(df) -> tuple:
    """Live-row count and last_seq sum: enough to tell a wrong snapshot
    without collecting it."""
    r = df.agg(F.count("*").alias("n"), F.sum("last_seq").alias("s")).collect()[0]
    return (int(r["n"]), int(r["s"] or 0))


def _expected(a: dict, state):
    s = state(a["version"])
    live = s[s.last_type != "delete"]
    if a["kind"] == "point":
        keys = [str(k) for k in set(a["keys"])]
        hit = live[live.index.isin(keys)]
        return sorted(
            (e, int(r.event_id), r.last_type, r.props) for e, r in hit.iterrows()
        )
    if a["kind"] == "snapshot":
        return (len(live), int(live.event_id.sum()))
    if a["kind"] == "time_window":
        lo, hi = a["window"]
        w = live[(live.ts_us >= lo) & (live.ts_us < hi)]
        return (len(w), int(w.event_id.sum()))
    old, new = state(a["from"]), s
    j = new.join(old[["event_id", "ts_us", "last_type"]], rsuffix="_old", how="left")
    changed = j[
        j.event_id_old.isna()
        | (j.event_id != j.event_id_old)
        | (j.ts_us != j.ts_us_old)
        | (j.last_type != j.last_type_old)
    ]
    out = []
    for e, r in changed.iterrows():
        if r.last_type == "delete":
            ct = "delete"
        elif pd.isna(r.event_id_old) or r.last_type_old == "delete":
            ct = "insert"
        else:
            ct = "update"
        out.append((e, ct, int(r.event_id), r.last_type, None if r.last_type == "delete" else r.props))
    return sorted(out)
