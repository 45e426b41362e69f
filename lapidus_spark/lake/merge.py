"""Lake MERGE plane: the last-write-wins combine, the locked and
optimistic (OCC) merge writers, schema evolution on merge, CHECK
constraint enforcement, txn idempotency markers, and the streaming
``merge_lake_sink``. Imports the commit-log plane (``log``) and the
admin plane (``admin``, for in-line compaction only).
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from . import log
from .admin import compact_lake
from .log import (
    MERGE_LAKE_BUCKETS,
    MANIFEST_NAME,
    LOCKED_WAIT_S,
    ConcurrentMergeError,
    CommitConflictError,
    ConstraintViolationError,
    _LAKE_COLS,
    _PARTITION_COL,
    _acquire_lock,
    _align_extras,
    _bucket_content_changed,
    _flip_version,
    _is_missing_file_error,
    _manifest_columns,
    _read_manifest,
    _validate_merge_args,
)

def snapshot_stream(envelopes: DataFrame, extra_cols: tuple = ()) -> DataFrame:
    """Incremental last-write-wins state per entity over the envelope
    stream (same semantics as the batch win_cdc_snapshot query,
    including delete tombstones — kept so the sink can purge).
    ``extra_cols`` carries additional envelope attributes into the
    snapshot row alongside the core five — the lake's schema-evolution
    path (the winning event's values ride the same max_by)."""
    return envelopes.groupBy(F.col("pk").alias("entity_id")).agg(
        F.max_by(
            F.struct("event_seq", "ts", "type", "item", *extra_cols),
            F.struct("ts", "event_seq"),
        ).alias("last")
    ).select(
        "entity_id",
        F.col("last.event_seq").alias("last_seq"),
        F.col("last.ts").alias("last_ts"),
        F.col("last.type").alias("last_type"),
        F.col("last.item").alias("item"),
        *[F.col(f"last.{c}").alias(c) for c in extra_cols],
    )


def _lww_combine(envelopes_or_rows: DataFrame, extra_names: tuple = ()) -> DataFrame:
    """Last-write-wins combine over snapshot-shaped rows: one row per
    entity_id, winner by (last_ts, last_seq). A semilattice join —
    commutative, associative, idempotent — which is what makes the
    merge correct under ANY batch arrival order and under replays.
    Accreted extra columns ride the winner's struct, which ``last.*``
    expands in order: ``_LAKE_COLS``, then the extras."""
    fields = ", ".join(
        ["last_seq", "last_ts", "last_type", "item", "bucket"]
        + [f"`{c}`" for c in extra_names]
    )
    return (
        envelopes_or_rows.groupBy("entity_id")
        .agg(F.expr(f"max_by(struct({fields}), struct(last_ts, last_seq)) AS last"))
        .select("entity_id", "last.*")
    )


#: process-level OCC outcome counters (observability for multi-writer
#: deployments and the two-daemon E2E test): a CONFLICT is a staged
#: merge dropped and recomputed because a concurrent commit
#: data-changed its buckets (a real lost race); a REBASE is a flip
#: applied onto a manifest that moved under the staging without
#: touching this merge's buckets' content (the cheap win).
OCC_CONFLICTS = 0
OCC_REBASES = 0


def merge_batch_into_lake(
    batch_df: DataFrame,
    lake_dir: str,
    n_buckets: int | None = MERGE_LAKE_BUCKETS,
    retain_versions: int = 1,
    extra_cols: tuple = (),
    txn: tuple | None = None,
) -> None:
    """One MERGE step (steps 1-4 of merge_lake_sink's contract),
    callable directly on a batch DataFrame — the unit the idempotency,
    order-independence, and crash tests drive without a streaming
    harness.

    ``n_buckets`` defines the table's physical layout, so it is
    pinned in the manifest on first write; a later merge with a
    different value raises instead of silently corrupting the table
    (updates would hash to new buckets while stored rows keep their
    old ones, so the affected-bucket read-back would miss them).
    Pass ``n_buckets=None`` to ADOPT the pinned layout — the right
    call for writers that should follow ``rebucket_lake`` layout
    changes instead of asserting a fixed one.

    ``retain_versions`` is an operational knob (not pinned): how many
    committed versions' data GC keeps after this merge. 1 = live
    only; K > 1 enables ``read_lake_snapshot(version=...)`` time
    travel and ``lake_changes`` over the last K versions.

    ``extra_cols`` names envelope attributes to carry into the lake
    row beyond the core five — SCHEMA EVOLUTION ON MERGE: a column
    the lake has not seen accretes a new schema epoch (recorded in
    the manifest, so time travel reads each version under its own
    schema); files older than the evolution null-fill on read; a
    known column missing from this batch null-fills on write. Types
    never mutate — a redeclared column with a different type
    raises.

    ``txn=(app_id, version)`` makes the merge IDEMPOTENT BY MARKER
    (Delta's txnAppId/txnVersion): the manifest records each app's
    high-water version, and a merge whose version is ≤ the recorded
    one is SKIPPED outright — no Spark job, no bucket rewrite, no new
    version. The LWW combine already makes replays CORRECT; the
    marker makes them FREE, which is what a restarted foreachBatch
    sink redelivering its last epoch wants at 100 TB (re-merging a
    replayed batch would otherwise rewrite its touched buckets to
    produce identical bytes). Versions must be monotonically
    increasing per app.

    ``batch_df`` must be DETERMINISTIC (re-evaluable to the same
    rows): the staging evaluates it in two independent actions (the
    observed touched-bucket scan and the staging write), so a
    batch whose keys derive from ``rand()`` or a non-replayable source
    can yield a touched/written bucket mismatch, which
    ``_stage_commit`` refuses with a RuntimeError rather than commit a
    corrupt layout. foreachBatch micro-batches and storage-backed
    frames satisfy this by construction; persist() a genuinely
    nondeterministic batch before merging it."""
    _validate_merge_args(n_buckets, retain_versions)
    _validate_extra_cols(extra_cols)
    _validate_txn(txn)
    spark = batch_df.sparkSession
    lock = _acquire_lock(lake_dir, wait_s=LOCKED_WAIT_S)
    try:
        _merge_locked(
            spark, batch_df, lake_dir, n_buckets, retain_versions, extra_cols, txn
        )
    finally:
        try:
            os.remove(lock)
        except FileNotFoundError:
            pass


def sync_snapshot_into_lake(
    batch_df: DataFrame,
    lake_dir: str,
    retire_seq: int,
    retire_ts,
    n_buckets: int | None = MERGE_LAKE_BUCKETS,
    retain_versions: int = 1,
    extra_cols: tuple = (),
    txn: tuple | None = None,
) -> dict:
    """FULL-STATE re-sync — MERGE's ``WHEN NOT MATCHED BY SOURCE THEN
    DELETE`` analog, the periodic-resnapshot posture a CDC consumer
    needs when the upstream re-sends its complete state (slot loss,
    initial-load repair, reference full resync): ``batch_df`` is an
    envelope batch declaring the ENTIRE current upstream state, and
    this op (1) upserts every source row and (2) retires every lake
    entity ABSENT from the source as a tombstone stamped
    ``(retire_seq, retire_ts)`` — both in ONE commit, so readers
    never observe the upserts without the retirements.

    The retirement stamp must outrank the retired entities' stored
    rows in the LWW order (pass the snapshot's watermark, e.g.
    max source ts + ε) — a stale stamp would lose the combine and
    silently resurrect the row; this is the caller's declaration of
    WHEN the snapshot was taken, not something the lake can infer.

    Scale contract: a resync is by definition full-table work — the
    retirement anti-join reads every live bucket ONCE, but carries
    only ``entity_id`` (never payloads) into the join against the
    source's key set; the subsequent merge rewrites only the buckets
    the union actually touches (untouched buckets keep their
    pointers, exactly like any merge). Returns
    ``{"retired": n, "version": v}``."""
    _validate_merge_args(n_buckets, retain_versions)
    _validate_extra_cols(extra_cols)
    _validate_txn(txn)
    spark = batch_df.sparkSession
    _validate_stamp(
        spark, retire_seq, retire_ts, batch_df.schema["ts"].dataType,
        "retire_seq", "retire_ts",
    )
    lock = _acquire_lock(lake_dir, wait_s=LOCKED_WAIT_S)
    try:
        manifest = _read_manifest(lake_dir)
        if _txn_already_applied(manifest, txn):
            # replayed snapshot epoch: skip BEFORE the full-table
            # retirement anti-join, not just inside the merge — a
            # restarted sink redelivering its last snapshot must be
            # metadata-speed, never a table scan
            return {"retired": 0, "version": int(manifest["version"])}
        live = log._read_live(spark, lake_dir, manifest) if manifest else None
        union = batch_df
        retired = 0
        gone = None
        try:
            if live is not None:
                gone = (
                    live.filter(F.col("last_type") != "delete")
                    .select("entity_id")
                    .join(
                        batch_df.select(
                            F.col("pk").cast("string").alias("entity_id")
                        ).distinct(),
                        "entity_id",
                        "anti",
                    )
                    .persist()
                )
                retired = gone.count()
            if retired:
                # the tombstone frame mirrors the batch's FULL schema
                # (envelope batches carry source/tx columns beyond the
                # core five): everything except the key and the
                # retirement stamp null-fills at the batch's own types
                pinned = {
                    "pk": F.col("entity_id").alias("pk"),
                    "event_seq": F.lit(retire_seq).cast("bigint").alias("event_seq"),
                    "ts": F.lit(retire_ts)
                    .cast(batch_df.schema["ts"].dataType)
                    .alias("ts"),
                    "type": F.lit("delete").alias("type"),
                }
                tomb = gone.select(
                    *[
                        pinned.get(f.name, F.lit(None).cast(f.dataType).alias(f.name))
                        for f in batch_df.schema.fields
                    ]
                )
                union = batch_df.unionByName(tomb)
            m = _merge_locked(
                spark, union, lake_dir, n_buckets, retain_versions, extra_cols, txn
            )
        finally:
            if gone is not None:
                gone.unpersist()
        return {"retired": retired, "version": int(m["version"])}
    finally:
        try:
            os.remove(lock)
        except FileNotFoundError:
            pass


def _normalize_merge_clauses(
    when_matched, when_not_matched, when_not_matched_by_source, writable
):
    """Validate the Delta-shaped clause lists and compile them into a
    flat ``[(group, tag, kind, condition, assignments)]`` plan.
    Shapes: matched / not-matched-by-source clauses are
    ``{"condition": sql|None, "update": {col: sql} | None}`` or
    ``{"condition": sql|None, "delete": True}``; not-matched clauses
    are ``{"condition": sql|None, "insert": {col: sql} | None}``.
    ``None`` is the STAR sugar (round 12, the Delta ``UPDATE SET *``
    / ``INSERT *`` pair — the common CDC upsert without enumerating
    columns): INSERT * gives every writable column the source's
    same-named column (NULL if absent), UPDATE SET * the same but an
    absent source column KEEPS the target row's value (the partial-
    update rule applied per column; Delta instead errors on absent —
    keeping the stored value is the envelope's LWW-friendly reading
    and is pinned in tests). ``when_not_matched_by_source`` clauses
    have no source row, so their star is meaningless and refused.
    Within each list clauses fire in order, first condition wins;
    only the LAST clause of a list may omit its condition (anything
    after an unconditional clause is unreachable — an authoring bug,
    refused)."""
    plan = []
    writable = set(writable)

    def assignments(d, kind, tag):
        if d is None:
            if tag.startswith("b"):
                raise ValueError(
                    f"merge clause {tag}: UPDATE SET * needs a source row "
                    "to read from — when_not_matched_by_source clauses "
                    "must enumerate their assignments"
                )
            return None
        if not isinstance(d, dict) or not d:
            raise ValueError(
                f"merge clause {tag}: {kind} assignments must be a non-empty "
                f"dict of {{column: sql_expr}}, got {d!r}"
            )
        for col, expr in d.items():
            if col not in writable:
                raise ValueError(
                    f"merge clause {tag}: cannot assign {col!r} — writable "
                    f"columns are {sorted(writable)} (the key and the LWW "
                    "stamp columns are never assignable; declare new columns "
                    "via extra_cols)"
                )
            if not isinstance(expr, str) or not expr.strip():
                raise ValueError(
                    f"merge clause {tag}: assignment for {col!r} must be a "
                    f"SQL expression string, got {expr!r}"
                )
        return dict(d)

    for group, clauses, allowed in (
        ("m", when_matched, ("update", "delete")),
        ("i", when_not_matched, ("insert",)),
        ("b", when_not_matched_by_source, ("update", "delete")),
    ):
        for idx, cl in enumerate(clauses):
            tag = f"{group}{idx}"
            if not isinstance(cl, dict):
                raise ValueError(f"merge clause {tag} must be a dict, got {cl!r}")
            unknown = set(cl) - {"condition", *allowed}
            if unknown:
                raise ValueError(
                    f"merge clause {tag}: unknown key(s) {sorted(unknown)} "
                    f"(allowed: condition + one of {allowed})"
                )
            actions = [k for k in allowed if k in cl]
            if len(actions) != 1:
                raise ValueError(
                    f"merge clause {tag} must carry exactly one of {allowed}, "
                    f"got {sorted(cl)}"
                )
            kind = actions[0]
            cond = cl.get("condition")
            if cond is not None and (not isinstance(cond, str) or not cond.strip()):
                raise ValueError(
                    f"merge clause {tag}: condition must be a SQL expression "
                    f"string or None, got {cond!r}"
                )
            if cond is None and idx != len(clauses) - 1:
                raise ValueError(
                    f"merge clause {tag} omits its condition but is not the "
                    "last clause of its list — later clauses would be "
                    "unreachable"
                )
            if kind == "delete":
                if cl["delete"] is not True:
                    raise ValueError(
                        f"merge clause {tag}: delete must be literal True"
                    )
                plan.append((group, tag, "delete", cond, None))
            else:
                plan.append(
                    (group, tag, kind, cond, assignments(cl[kind], kind, tag))
                )
    if not plan:
        raise ValueError(
            "merge_into_lake needs at least one clause (when_matched / "
            "when_not_matched / when_not_matched_by_source)"
        )
    return plan


def merge_into_lake(
    source_df: DataFrame,
    lake_dir: str,
    stamp_seq: int | None = None,
    stamp_ts=None,
    when_matched: tuple = (),
    when_not_matched: tuple = (),
    when_not_matched_by_source: tuple = (),
    n_buckets: int | None = None,
    retain_versions: int = 1,
    extra_cols: tuple = (),
    txn: tuple | None = None,
    stamp_cols: tuple | None = None,
) -> dict:
    """General-predicate MERGE — the Delta-shaped
    ``MERGE INTO lake USING source ON lake.entity_id = source.pk``
    with ``WHEN MATCHED [AND cond] THEN UPDATE SET <partial cols> /
    DELETE``, ``WHEN NOT MATCHED [AND cond] THEN INSERT`` and
    ``WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE / DELETE``
    clauses, COMPILED ONTO the envelope LWW combine: the clause
    evaluation emits an ordinary envelope batch (updates/inserts as
    ``type='insert'`` rows, deletes as tombstones, every row stamped
    ``(stamp_seq, stamp_ts)``) and commits through ``_merge_locked``
    — so OCC locking, txn idempotency markers, CHECK constraints,
    CDF pre-images, schema evolution/widening and time travel all
    apply unchanged. This is the arbitrary per-event consumer logic
    the reference exposes through row callbacks (reference
    ``src/postgresql.js:503-537``), declared as SQL instead.

    ``source_df`` carries ``pk`` plus any columns the clause
    expressions read; conditions and assignments are SQL strings
    over the aliases ``source`` (the batch) and ``target`` (the
    lake's live row: ``target.item``, ``target.<extra>``, plus
    ``target.last_seq/last_ts/last_type`` for stamp-aware logic).
    Not-matched (insert) conditions may reference only ``source``
    (there is no target row — Delta's rule). A matched UPDATE sets
    ONLY the assigned columns; unassigned writable columns keep the
    target row's values. ``insert: None`` means INSERT * — each
    writable column takes the source's same-named column, NULL if
    absent. Duplicate source keys raise (one target row must never
    receive two conflicting clause outcomes — Delta's multiple-
    source-rows-matched error).

    ``(stamp_seq, stamp_ts)`` is the caller's declaration of WHEN
    this merge happened in the lake's LWW order — it must outrank
    the stored rows it intends to overwrite (pass the batch
    watermark), exactly like ``sync_snapshot_into_lake``'s
    retirement stamp. A stale stamp loses the combine and the write
    silently yields to the stored row: that is the lake's
    out-of-order-arrival contract, not an error.

    ``stamp_cols=(seq_col, ts_col)`` stamps each emitted row from
    the SOURCE row's own columns instead of one scalar pair — the
    CDC-shaped mode the streaming ``predicate_merge_sink`` uses:
    event-derived stamps make the final LWW state independent of
    batch arrival order (a replayed or re-ordered event resolves by
    its own stamp, never by when the merge ran). Mutually exclusive
    with scalar stamps, and incompatible with
    ``when_not_matched_by_source`` (those rows have no source row to
    stamp from).

    Scale contract: two-pass like Delta's merge — pass 1 reads ONLY
    the buckets the source's keys hash into (path-level pruning;
    ``when_not_matched_by_source`` is by definition full-table work,
    the one case that reads every live bucket) and joins
    batch-vs-bucket-subset; pass 2 is the ordinary merge commit
    rewriting only touched buckets. The clause CASE tree is a single
    projection — no per-clause jobs, no driver-side row loops; the
    only collects are the metadata-sized touched-bucket list and the
    per-clause outcome counts. Returns
    ``{"version", "updated", "deleted", "inserted"}``."""
    _validate_merge_args(None, retain_versions)
    _validate_extra_cols(extra_cols)
    _validate_txn(txn)
    spark = source_df.sparkSession
    if "pk" not in source_df.columns:
        raise ValueError(
            "merge_into_lake: source_df must carry a 'pk' column (the merge "
            f"key); got columns {source_df.columns}"
        )
    if stamp_cols is not None:
        if stamp_seq is not None or stamp_ts is not None:
            raise ValueError(
                "merge_into_lake: pass stamp_cols OR (stamp_seq, stamp_ts), "
                "not both"
            )
        if when_not_matched_by_source:
            raise ValueError(
                "merge_into_lake: when_not_matched_by_source needs scalar "
                "stamps — its rows have no source row to stamp from"
            )
        if (
            not isinstance(stamp_cols, (tuple, list))
            or len(stamp_cols) != 2
            or any(c not in source_df.columns for c in stamp_cols)
        ):
            raise ValueError(
                f"merge_into_lake: stamp_cols must name two source columns "
                f"(seq, ts); got {stamp_cols!r} over {source_df.columns}"
            )
    elif stamp_seq is None or stamp_ts is None:
        raise ValueError(
            "merge_into_lake: pass (stamp_seq, stamp_ts) or stamp_cols"
        )
    lock = _acquire_lock(lake_dir, wait_s=LOCKED_WAIT_S)
    src = None
    envelope = None
    current_all = None
    try:
        manifest, n_buckets = _resolve_base(lake_dir, n_buckets)
        if _txn_already_applied(manifest, txn):
            return {
                "version": int(manifest["version"]),
                "updated": 0,
                "deleted": 0,
                "inserted": 0,
            }
        carried = [c["name"] for c in _manifest_columns(manifest)]
        carried += [c for c in extra_cols if c not in carried]
        writable = ["item", *carried]
        plan = _normalize_merge_clauses(
            when_matched, when_not_matched, when_not_matched_by_source, writable
        )
        src = source_df.withColumn("pk", F.col("pk").cast("string")).persist()
        # ONE validation/planning pass: the duplicate-key check, the
        # NULL-stamp check (the per-row analog of the scalar
        # _validate_stamp — an unstamped row would silently lose
        # every LWW combine) and the touched-bucket set all come out
        # of a single per-key aggregation over the cached source.
        need_buckets = manifest is not None and not when_not_matched_by_source
        per_key = [F.count("*").alias("__n")]
        if stamp_cols is not None:
            seq_name, ts_name = stamp_cols
            per_key.append(
                F.max(F.col(seq_name).isNull() | F.col(ts_name).isNull()).alias(
                    "__bad"
                )
            )
        g = src.groupBy("pk").agg(*per_key)
        aggs = [
            F.max("__n").alias("max_n"),
            F.max_by("pk", F.col("__n")).alias("dup_pk"),
        ]
        if stamp_cols is not None:
            aggs += [
                F.sum(F.col("__bad").cast("int")).alias("n_bad"),
                F.max_by("pk", F.col("__bad").cast("int")).alias("bad_pk"),
            ]
        if need_buckets:
            aggs.append(
                F.collect_set(F.expr(_bucket_sql("pk", n_buckets))).alias("__buckets")
            )
        vrow = g.agg(*aggs).first()
        if vrow["max_n"] is not None and int(vrow["max_n"]) > 1:
            raise ValueError(
                f"merge_into_lake: source has duplicate key {vrow['dup_pk']!r} "
                "— a target row must not receive two clause outcomes; "
                "pre-aggregate the source to one row per pk"
            )
        if stamp_cols is not None and vrow["n_bad"]:
            raise ValueError(
                f"merge_into_lake: source row with pk {vrow['bad_pk']!r} "
                f"has a NULL stamp ({seq_name}/{ts_name}) — its writes "
                "would silently lose every LWW combine; stamp every "
                "source row or drop the unstamped ones explicitly"
            )
        target = None
        if manifest is not None:
            buckets = set(vrow["__buckets"] or []) if need_buckets else None
            current_all = log._read_live(spark, lake_dir, manifest, buckets)
            if current_all is not None:
                # ONE scan of the stored buckets per merge: the clause
                # join AND the commit's union both consume this pruned
                # read, persisted. It covers every bucket the commit
                # can touch: envelope keys are drawn from the source
                # keys (whose buckets prune this read) or, with
                # by-source clauses, from the full-table read.
                current_all = current_all.persist()
                # matched = a VISIBLE live row; tombstoned entities are
                # NOT MATCHED (their re-insert goes through insert clauses)
                target = current_all.filter(F.col("last_type") != "delete")
        epoch_item_type = None
        if target is not None:
            joined = src.alias("source").join(
                target.alias("target"),
                F.expr("source.pk = target.entity_id"),
                "full_outer" if when_not_matched_by_source else "left",
            )
            matched = (
                F.col("source.pk").isNotNull()
                & F.col("target.entity_id").isNotNull()
            )
            by_src = F.col("source.pk").isNull()
            tgt_cols = set(target.columns)
            key = F.coalesce(F.col("source.pk"), F.col("target.entity_id"))
            ts_type = target.schema["last_ts"].dataType
        else:
            # empty lake: nothing matches, by-source is vacuous; only
            # insert clauses (source-referencing by rule) can fire
            from pyspark.sql.types import TimestampNTZType, _parse_datatype_string

            joined = src.alias("source")
            matched = F.lit(False)
            by_src = F.lit(False)
            tgt_cols = set()
            key = F.col("source.pk")
            ts_type = TimestampNTZType()
            if manifest is not None:
                # NON-empty lake whose PRUNED read is empty (all source
                # keys hash to never-written buckets): the table has a
                # physical epoch already — stamp at ITS timestamp/item
                # types, not the NTZ default, or this commit writes a
                # mixed timestamp precision later unions cannot read
                probed = log._epoch_core_types(lake_dir, manifest)
                if probed is not None:
                    ts_type, epoch_item_type = map(_parse_datatype_string, probed)
        if stamp_cols is None:
            _validate_stamp(
                spark, stamp_seq, stamp_ts, ts_type, "stamp_seq", "stamp_ts"
            )
            seq_col = F.lit(stamp_seq).cast("bigint")
            ts_col = F.lit(stamp_ts).cast(ts_type)
        else:
            seq_col = F.col(f"source.{stamp_cols[0]}").cast("bigint")
            ts_col = F.col(f"source.{stamp_cols[1]}").cast(ts_type)
        not_matched = ~matched & ~by_src

        def tcol(c):
            return F.col(f"target.{c}") if c in tgt_cols else F.lit(None)

        def scol(c):
            return F.col(f"source.{c}") if c in src.columns else F.lit(None)

        flags = {"m": matched, "i": not_matched, "b": by_src}
        action = None
        for group, tag, kind, cond, _sets in plan:
            if target is None and group in ("m", "b"):
                continue  # vacuous — and their exprs may reference target.*
            fire = flags[group]
            if cond is not None:
                fire = fire & F.expr(cond)
            action = F.when(fire, tag) if action is None else action.when(fire, tag)
        if action is None:
            return {
                "version": int(manifest["version"]) if manifest else 0,
                "updated": 0,
                "deleted": 0,
                "inserted": 0,
            }
        live_plan = [
            p for p in plan if target is not None or p[0] not in ("m", "b")
        ]
        delete_tags = [t for _g, t, k, _c, _s in live_plan if k == "delete"]
        type_col = F.lit("insert")
        if delete_tags:
            type_col = F.when(
                F.col("__action").isin(delete_tags), F.lit("delete")
            ).otherwise(F.lit("insert"))

        def value_of(cname):
            out = None
            for group, tag, kind, _cond, sets in live_plan:
                if kind == "delete":
                    v = F.lit(None)  # tombstone: payload nulls by design
                elif kind == "update":
                    if sets is None:
                        # UPDATE SET * — source's same-named column;
                        # absent in source keeps the stored value (the
                        # partial-update rule, per column)
                        v = scol(cname) if cname in src.columns else tcol(cname)
                    else:
                        v = F.expr(sets[cname]) if cname in sets else tcol(cname)
                else:  # insert
                    if sets is None:
                        v = scol(cname)  # INSERT * by name
                    else:
                        v = F.expr(sets[cname]) if cname in sets else F.lit(None)
                hit = F.col("__action") == tag
                out = F.when(hit, v) if out is None else out.when(hit, v)
            return out

        # pin each carried column to its epoch type (a delete-only or
        # partial batch otherwise emits untyped NULLs, which
        # _evolved_schema would read as a void redeclaration)
        pinned = {c["name"]: c["type"] for c in _manifest_columns(manifest)}

        def typed(cname):
            v = value_of(cname)
            if cname in pinned:
                return v.cast(pinned[cname])
            return v

        item = value_of("item")
        if target is not None:
            item = item.cast(target.schema["item"].dataType)
        elif epoch_item_type is not None:
            item = item.cast(epoch_item_type)
        envelope = (
            joined.withColumn("__action", action)
            .filter(F.col("__action").isNotNull())
            .select(
                key.alias("pk"),
                seq_col.alias("event_seq"),
                ts_col.alias("ts"),
                type_col.alias("type"),
                item.alias("item"),
                *[typed(c).alias(c) for c in carried],
                "__action",
            )
            .persist()
        )
        # the cache has exactly two consumers: the commit's
        # touched-bucket/validation action and the staging write —
        # without it the clause join would run once per consumer.
        # The per-clause outcome counts ride the commit's first action
        # as observe() metrics (counting is reporting, not
        # enforcement). An envelope no clause fired on touches no
        # bucket, so _merge_locked commits nothing; the metrics are
        # still populated, because with the writer lock held and the
        # txn marker already checked, _merge_locked always runs its
        # touched-set action.
        from pyspark.sql import Observation

        kinds = {t: k for _g, t, k, _c, _s in live_plan}
        kind_of = {"update": "updated", "delete": "deleted", "insert": "inserted"}
        obs = Observation()
        observed = envelope.observe(
            obs,
            *[F.count(F.when(F.col("__action") == t, 1)).alias(t) for t in kinds],
        )
        m = _merge_locked(
            spark,
            observed.drop("__action"),
            lake_dir,
            n_buckets,
            retain_versions,
            tuple(carried),
            txn,
            current=current_all,
        )
        counts = {"updated": 0, "deleted": 0, "inserted": 0}
        for tag, n in obs.get.items():
            counts[kind_of[kinds[tag]]] += int(n)
        return {"version": int(m["version"]) if m else 0, **counts}
    finally:
        for df in (src, envelope, current_all):
            if df is not None:
                df.unpersist()
        try:
            os.remove(lock)
        except FileNotFoundError:
            pass


def _resolve_base(lake_dir: str, n_buckets: int | None):
    """Shared merge preamble: the live base manifest plus the resolved
    bucket count (pinned layout wins; a mismatch raises)."""
    manifest = _read_manifest(lake_dir)
    if n_buckets is None:
        n_buckets = manifest["n_buckets"] if manifest else MERGE_LAKE_BUCKETS
    if manifest is not None and manifest["n_buckets"] != n_buckets:
        raise ValueError(
            f"lake at {lake_dir} has n_buckets={manifest['n_buckets']} "
            f"(pinned in {MANIFEST_NAME}); merge called with {n_buckets} — "
            "the bucket layout only changes through rebucket_lake "
            "(pass n_buckets=None to adopt the pinned layout)"
        )
    return manifest, n_buckets


def _snapshot_shape(
    envelopes: DataFrame, n_buckets: int, extra_cols: tuple = ()
) -> DataFrame:
    """Envelope rows projected to the snapshot column shape WITHOUT
    the per-entity aggregation — the raw-row side of the merge:
    because the LWW combine is associative and idempotent over its
    (last_ts, last_seq) comparator, ``_lww_combine(current ∪ raw_rows)``
    equals ``_lww_combine(current ∪ snapshot_stream(raw))`` row for
    row, so ONE hash aggregation (map-side partial aggregation
    collapses in-batch duplicates before the exchange) does the
    in-batch LWW and the combine with the stored rows together.

    The bucket rides the same projection, so an unevolved batch
    already has ``_LAKE_COLS`` in order and ``_align_extras`` passes
    it through untouched."""
    return envelopes.selectExpr(
        "pk AS entity_id",
        "event_seq AS last_seq",
        "ts AS last_ts",
        "type AS last_type",
        "item",
        *[f"`{c}`" for c in extra_cols],
        f"{_bucket_sql('pk', n_buckets)} AS bucket",
    )


def _bucket_sql(key: str, n_buckets: int) -> str:
    """The stored bucket of a key column, ``pmod(xxhash64(key), n)``
    as an int — never NULL, since ``xxhash64(NULL)`` is the seed.
    SQL text rather than a Column: every merge rebuilds its staging
    plan, and each Column-API call costs several py4j round trips
    where a SQL string is parsed in one."""
    return f"CAST(pmod(xxhash64({key}), {int(n_buckets)}) AS INT)"


def _merged_for_batch(
    spark,
    lake_dir: str,
    manifest: dict | None,
    updates: DataFrame,
    touched: list,
    all_extras=(),
    current=None,
):
    """The LWW combine of the ``touched`` buckets' stored rows with the
    batch's snapshot-shaped ``updates`` — the frame the staging write
    consumes (its only consumer, so ``updates`` is never persisted).
    ``all_extras`` is the POST-merge schema epoch (manifest columns +
    any accreted by this batch); both sides null-fill to it before
    combining.

    ``current``: the predicate merge already holds a persisted read of
    the live buckets covering every bucket this batch can touch, read
    under the SAME ``manifest``; filtering it to ``touched`` saves a
    second parquet scan of the same buckets. ``None`` = read the
    touched buckets from the manifest (every other caller)."""
    all_extras = list(all_extras)
    if current is not None:
        current = current.filter(F.col("bucket").isin([int(b) for b in touched]))
    elif manifest:
        current = log._read_live(spark, lake_dir, manifest, set(touched))
    names = tuple(c["name"] for c in all_extras)
    updates = _align_extras(updates, all_extras)
    if current is None:
        return _lww_combine(updates, names)
    return _lww_combine(
        _align_extras(current, all_extras).unionByName(updates), names
    )


def _touched_of_raw(batch_df: DataFrame, n_buckets: int) -> list:
    """Touched-bucket list straight from the raw envelope batch: the
    bucket is a pure function of ``pk`` (the identical
    pmod(xxhash64(pk), n) the snapshot rows carry), and aggregation
    preserves the key set, so the bucket set over raw rows equals
    the set over the aggregated snapshot.

    ONE Spark job with no exchange: a ``noop`` write of the bucket
    projection, observed with ``collect_set`` — each task folds its
    buckets into a set and Spark merges the per-task sets when
    the job ends. ``collect_set`` drops only NULLs, and the bucket is
    never NULL, so the set is exactly the distinct buckets."""
    obs = Observation()
    (
        batch_df.selectExpr(f"{_bucket_sql('pk', n_buckets)} AS bucket")
        .observe(obs, F.collect_set("bucket").alias("buckets"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return sorted(obs.get["buckets"])


def _validate_extra_cols(extra_cols: tuple) -> None:
    """Reject declarations that can never be valid BEFORE any plan is
    built (a colliding name would otherwise surface as an ambiguous-
    field AnalysisException deep inside the snapshot struct; a
    non-identifier name would break the dotted struct-field access in
    ``snapshot_stream`` or the DDL string ``lake_batch._epoch_ddl``
    interpolates)."""
    import re

    seen = set()
    for name in extra_cols:
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name or ""):
            raise ValueError(
                f"extra column {name!r} is not a plain identifier "
                "([A-Za-z_][A-Za-z0-9_]*) — dotted/quoted/spaced names would "
                "break struct-field access and schema DDL downstream"
            )
        if name in _LAKE_COLS or name in ("pk", "event_seq", "ts", "type"):
            raise ValueError(f"extra column {name!r} collides with a core lake column")
        if name in (_PARTITION_COL, "__z"):
            # writer internals: _stage_commit overwrites pb with the
            # bucket id and partitionBy drops it from the data files;
            # a Z-order compact overwrites and drops __z — either way
            # the user's values would be silently destroyed
            raise ValueError(
                f"extra column {name!r} collides with a writer-internal column"
            )
        if name in seen:
            raise ValueError(f"extra column {name!r} declared twice")
        seen.add(name)


#: safe type-widening chains (VERDICT r9 #4 — real producers widen):
#: a column may move RIGHTWARD along its chain; the epoch records the
#: widest type ever declared and the read side requests it explicitly
#: (Spark 4's parquet widening promotion reads the narrower old files
#: up — see ``log._read_commit_files``). Decimal precision growth at
#: equal scale is handled separately.
_WIDENING_CHAINS = (
    ("tinyint", "smallint", "int", "bigint"),
    ("float", "double"),
)


def _widens(new_type: str, old_type: str) -> bool:
    """Is ``new_type`` a declared-safe widening of ``old_type``?"""
    import re

    for chain in _WIDENING_CHAINS:
        if old_type in chain and new_type in chain:
            return chain.index(new_type) > chain.index(old_type)
    m_old = re.fullmatch(r"decimal\((\d+),(\d+)\)", old_type)
    m_new = re.fullmatch(r"decimal\((\d+),(\d+)\)", new_type)
    if m_old and m_new and m_old.group(2) == m_new.group(2):
        # precision growth at the same scale: every old value is
        # exactly representable in the new type
        return int(m_new.group(1)) > int(m_old.group(1))
    return False


def _evolved_schema(manifest: dict | None, updates: DataFrame, extra_cols: tuple):
    """The post-merge schema epoch: the manifest's accreted columns
    plus any NEW ones this batch declares, with TYPE WIDENING for
    known ones (``(all_extras, evolved)``; ``evolved`` is truthy only
    when the epoch actually changes — commits that don't evolve must
    not rewrite the columns record).

    Redeclaring a known column under a WIDER type along a safe chain
    (int→bigint, float→double, decimal precision growth at equal
    scale) widens the epoch: the manifest records the new type, old
    files read up under the explicit epoch schema, and every retained
    pre-widening version still time-travels under its own narrower
    epoch. Redeclaring under a NARROWER type is accepted without
    evolving (the batch's values cast up into the pinned type —
    ``_align_extras``); anything off-chain still raises."""
    return _evolved_schema_from_types(
        manifest,
        {name: updates.schema[name].dataType.simpleString() for name in extra_cols},
        extra_cols,
    )


def _evolved_schema_from_types(
    manifest: dict | None, declared: dict, extra_cols: tuple
):
    """``_evolved_schema`` for callers without a DataFrame (the
    session-less ``df.write.format("lake")`` commit worker resolves
    its declared types from the staged files' Arrow schema) —
    ``declared`` maps each extra column to its Spark DDL type
    string. Same rules, same errors: shared so the SQL-write path and
    the library merge can never diverge on evolution semantics."""
    base_extras = _manifest_columns(manifest)
    known = {c["name"]: c["type"] for c in base_extras}
    # former names from RENAME commits: a batch may not write under
    # one (the data would silently land in the renamed column via the
    # read-side coalesce), and a NEW column may not take one (old
    # files' data under that name would resurrect into it)
    former = {
        a: c["name"] for c in base_extras for a in c.get("aliases", ())
    }
    quarantined = log._dropped_names(manifest)
    new_cols = []
    widened: dict[str, str] = {}
    for name in extra_cols:
        dtype = declared[name]
        if name in quarantined:
            raise ValueError(
                f"extra column {name!r} belonged to a DROPPED column and "
                "stays quarantined — old files still carry the dead "
                "column's data under this name, and a new column taking it "
                "would resurrect those values on read; pick another name"
            )
        if name in former:
            raise ValueError(
                f"extra column {name!r} was renamed to {former[name]!r} in "
                "the lake schema — write under the current name (former "
                "names stay reserved: old files still carry data under them)"
            )
        if name in known:
            if known[name] == dtype:
                continue
            if _widens(dtype, known[name]):
                widened[name] = dtype
            elif _widens(known[name], dtype):
                pass  # narrower batch: cast up at align time, no evolution
            else:
                raise ValueError(
                    f"extra column {name!r} is pinned as {known[name]} in the "
                    f"lake schema; this batch declares {dtype} — only safe "
                    f"widenings mutate a column's type ({_WIDENING_CHAINS}, "
                    "decimal precision growth at equal scale); add a new "
                    "column otherwise"
                )
        else:
            new_cols.append({"name": name, "type": dtype})
    evolved_base = [
        {**c, "type": widened.get(c["name"], c["type"])} for c in base_extras
    ]
    return evolved_base + new_cols, bool(new_cols) or bool(widened)


def _version_of(manifest: dict | None) -> int:
    return manifest["version"] if manifest else 0


class _Staged(NamedTuple):
    """A merge staged against ``base``: everything its flip needs.
    ``commit_rel`` is None when there is nothing to flip (a replayed
    txn, or a batch that touches no bucket)."""

    base: dict | None
    n_buckets: int
    touched: list
    commit_rel: str | None = None
    extra: dict | None = None


def _stage_merge(
    spark,
    batch_df: DataFrame,
    lake_dir: str,
    n_buckets: int | None,
    extra_cols: tuple,
    txn: tuple | None,
    locked: bool,
    current=None,
) -> _Staged:
    """The one staging pipeline of every lake MERGE, locked or
    optimistic — Delta's OptimisticTransaction shape: stage, validate,
    then (in the caller) flip. Resolves the base manifest, skips a
    replayed txn, derives the touched buckets, LWW-combines their
    stored rows with the batch and writes the result into a fresh
    commit dir. Touches no manifest.

    ``locked``: the caller holds the writer lock across staging AND
    flip, so the base cannot move, and the commit dir takes the plain
    name ``commits/<v>`` (GC reclaims a crashed one at once). Unlocked
    staging names its dir ``commits/<v>.<nonce>``: writers never
    collide, and GC's staging grace spares it until the flip.

    One exchange, no cache: raw batch rows flow into the staging
    write's one hash aggregation. The touched set comes from one
    observed scan of the raw batch (``_touched_of_raw``, no exchange)
    — or, on a constrained table, from the CHECK validation's
    aggregation (``_validated_touched``), which refuses before
    anything is written.

    ``current``: an already-read live frame covering every bucket the
    batch can touch, read under the manifest this merge resolves (the
    predicate merge's persisted pruned read; see
    ``_merged_for_batch``)."""
    base, n_buckets = _resolve_base(lake_dir, n_buckets)
    if _txn_already_applied(base, txn):
        return _Staged(base, n_buckets, [])  # replayed batch: the marker makes it FREE
    updates = _snapshot_shape(batch_df, n_buckets, extra_cols)
    all_extras, evolved = _evolved_schema(base, updates, extra_cols)
    cons = (base or {}).get("constraints", {})
    if cons:
        touched = _validated_touched(updates, all_extras, cons)
    else:
        touched = _touched_of_raw(batch_df, n_buckets)
    if not touched:
        return _Staged(base, n_buckets, [])
    merged = _merged_for_batch(
        spark, lake_dir, base, updates, touched, all_extras, current
    )
    commit_rel = f"commits/{_version_of(base) + 1:010d}"
    if not locked:
        commit_rel += f".{uuid.uuid4().hex[:8]}"
    try:
        log._stage_commit(lake_dir, merged, touched, commit_rel)
    except Exception:
        shutil.rmtree(os.path.join(lake_dir, commit_rel), ignore_errors=True)
        raise
    extra = {"columns": all_extras} if evolved else None
    return _Staged(base, n_buckets, touched, commit_rel, extra)


def _merge_locked(
    spark,
    batch_df: DataFrame,
    lake_dir: str,
    n_buckets: int | None,
    retain_versions: int,
    extra_cols: tuple = (),
    txn: tuple | None = None,
    current=None,
) -> dict | None:
    """Stage and flip one MERGE while the caller holds the writer
    lock: the flip lands on the very base the staging read, so no
    rebase ever fires. Returns the committed manifest, or the base
    when nothing committed. ``current``: see ``_stage_merge``."""
    staged = _stage_merge(
        spark, batch_df, lake_dir, n_buckets, extra_cols, txn,
        locked=True, current=current,
    )
    if staged.commit_rel is None:
        return staged.base
    return _flip_version(
        lake_dir,
        staged.base,
        staged.commit_rel,
        staged.touched,
        staged.n_buckets,
        retain_versions,
        extra=staged.extra,
        txn=txn,
    )


def _validate_stamp(spark, seq, ts, ts_type, seq_name: str, ts_name: str) -> None:
    """Fail-fast validation of a caller-declared LWW stamp (snapshot
    retirement, predicate-merge write stamp): a stamp whose ts casts
    to NULL at the lake's ts type would lose EVERY combine — the op
    would silently no-op its writes while reporting success."""
    if isinstance(seq, bool) or not isinstance(seq, int):
        raise ValueError(f"{seq_name} must be an int, got {seq!r}")
    if ts is None:
        raise ValueError(f"{ts_name} must not be None (it stamps the writes)")
    probe = spark.range(1).select(F.lit(ts).try_cast(ts_type).alias("ts")).first()
    if probe["ts"] is None:
        raise ValueError(
            f"{ts_name} {ts!r} casts to NULL at the lake ts type "
            f"{ts_type.simpleString()} — the stamp would lose every LWW "
            "combine; pass a value valid at that type (e.g. the batch "
            "watermark)"
        )


def _validate_txn(txn) -> None:
    if txn is None:
        return
    if (
        not isinstance(txn, (tuple, list))
        or len(txn) != 2
        or not isinstance(txn[0], str)
        or not txn[0]
        or isinstance(txn[1], bool)
        or not isinstance(txn[1], int)
    ):
        raise ValueError(
            f"txn must be (app_id: non-empty str, version: int), got {txn!r}"
        )


def _txn_already_applied(manifest: dict | None, txn: tuple | None) -> bool:
    if txn is None or manifest is None:
        return False
    recorded = manifest.get("txns", {}).get(str(txn[0]))
    return recorded is not None and int(recorded) >= int(txn[1])


def _validated_touched(updates: DataFrame, all_extras, cons: dict) -> list:
    """CHECK constraints at write time (Delta's enforcement point)
    and the touched-bucket set, in ONE action over the batch (never
    the table): a per-key LWW aggregation of the raw snapshot-shaped
    batch rows computes the batch's winners, the violation counts over
    the VISIBLE winners, and the distinct bucket set. AQE runs that
    action as three Spark jobs — one per exchange (the per-key
    combine, the global aggregate) and the result. Raises before any
    staging work — a refused batch writes nothing. Tombstones are
    exempt from the CHECKs (payload nulled by design — the outer CASE
    guards the expression from ever evaluating on them) but still
    contribute their buckets. SQL-standard CHECK semantics: NULL
    (unknown) passes, only FALSE violates."""
    names = tuple(c["name"] for c in all_extras)
    winners = _lww_combine(_align_extras(updates, all_extras), names)
    aggs = [
        F.sum(
            F.when(F.col("last_type") == "delete", 0).otherwise(
                F.when(~F.coalesce(F.expr(e), F.lit(True)), 1).otherwise(0)
            )
        ).alias(n)
        for n, e in sorted(cons.items())
    ]
    row = winners.agg(*aggs, F.collect_set("bucket").alias("__buckets")).first()
    bad = {n: int(row[n]) for n in sorted(cons) if row[n]}
    if bad:
        raise ConstraintViolationError(
            f"merge batch violates CHECK constraint(s) {bad} "
            f"({ {n: cons[n] for n in bad} }); commit refused, table unchanged"
        )
    return sorted(row["__buckets"] or [])


#: one-shot guard for the cross-process race barrier below
_ENV_BARRIER_DONE = False


def _env_race_barrier(attempt: int) -> None:
    """Cross-PROCESS twin of the in-session ``_race_hook`` seam: when
    ``LAPIDUS_OCC_BARRIER=<dir>:<n>`` is set, the FIRST merge of this
    process pauses once between staging and flip until ``n`` processes
    have staged — so a multi-daemon test provably overlaps the
    stage-to-flip windows instead of hoping JVM startup skew lines up.
    Inert without the env var; proceeds after a bounded wait if a
    sibling never arrives (a hung sibling must not deadlock a
    commit)."""
    global _ENV_BARRIER_DONE
    spec = os.environ.get("LAPIDUS_OCC_BARRIER", "")
    if not spec:
        return
    import sys
    import time

    if _ENV_BARRIER_DONE or attempt > 0:
        print(
            f"[occ_barrier {os.getpid()}] skip (done={_ENV_BARRIER_DONE}, "
            f"attempt={attempt})",
            file=sys.stderr,
            flush=True,
        )
        return
    _ENV_BARRIER_DONE = True
    parts = spec.split(":")
    d, n = ":".join(parts[:-2]) if len(parts) > 2 else parts[0], int(parts[-2] if len(parts) > 2 else parts[-1])
    timeout_s = float(parts[-1]) if len(parts) > 2 else 120.0
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"staged.{os.getpid()}"), "w") as fh:
        fh.write("staged")
    print(f"[occ_barrier {os.getpid()}] staged, waiting for {n}", file=sys.stderr, flush=True)
    deadline = time.time() + timeout_s
    while len([f for f in os.listdir(d) if f.startswith("staged.")]) < n:
        if time.time() > deadline:
            print(f"[occ_barrier {os.getpid()}] timeout", file=sys.stderr, flush=True)
            return
        time.sleep(0.05)
    print(f"[occ_barrier {os.getpid()}] released", file=sys.stderr, flush=True)


def _occ_conflicts(base: dict | None, cur: dict | None, touched: list, n_buckets: int) -> bool:
    """Must an optimistic merge computed against ``base`` recompute
    before flipping onto ``cur``? False when nothing landed in
    between, or when everything that landed provably left the
    merge's ``touched`` buckets' CONTENT alone — the per-bucket
    ``data_versions`` stamps prove that across pointer moves, so an
    interleaved compaction (pure physical rewrite) never forces a
    recompute. A layout change (rebucket) always conflicts: bucket
    ids are not comparable across layouts."""
    if _version_of(cur) == _version_of(base):
        return False
    if cur is None or cur["n_buckets"] != n_buckets:
        return True
    if (cur or {}).get("columns") != (base or {}).get("columns"):
        # an intervening commit EVOLVED the schema: this merge's
        # staged files predate the epoch and its delta would clobber
        # the columns record — recompute under the fresh manifest
        return True
    if (cur or {}).get("constraints") != (base or {}).get("constraints"):
        # the constraint set changed under the staging: the staged
        # rows were validated against the OLD set — recompute (and
        # re-validate) under the fresh manifest
        return True
    if base is None:
        # merged against an empty table: any intervening write to a
        # touched bucket would be lost by our snapshot — conflict.
        return any(str(b) in cur["buckets"] for b in touched)
    return any(_bucket_content_changed(base, cur, str(b)) for b in touched)


def merge_batch_optimistic(
    batch_df: DataFrame,
    lake_dir: str,
    n_buckets: int | None = MERGE_LAKE_BUCKETS,
    retain_versions: int = 1,
    max_attempts: int = 5,
    flip_wait_s: float = 30.0,
    extra_cols: tuple = (),
    txn: tuple | None = None,
    _race_hook: Callable[[int], None] | None = None,
) -> dict | None:
    """MERGE with OPTIMISTIC concurrency control — multiple writers
    share one lake, Delta-style. Where ``merge_batch_into_lake``
    holds the single-writer lock across the whole merge (Spark jobs
    included), this writer:

    1. reads the manifest (the BASE version) with no lock;
    2. computes the merged buckets against base and stages them into
       a uniquely-named commit dir ``commits/<v>.<nonce>`` — the
       expensive Spark work, fully concurrent with other writers
       (the nonce prevents dir collisions; GC's grace window keeps a
       concurrent committer from collecting the staging);
    3. takes the lock only for the FLIP (a JSON rename — the critical
       section shrinks from the whole merge to milliseconds), re-reads
       the manifest, and:
       - unchanged → flip normally;
       - advanced, but every intervening commit left this merge's
         buckets' content alone (disjoint-bucket merges; compactions
         — their ``data_versions`` stamps carry through) → REBASE:
         flip the staged pointers onto the newer manifest;
       - a data change in one of OUR buckets, or a rebucket → the
         merge was computed against stale content: drop the staging,
         recompute against the fresh manifest, retry (bounded by
         ``max_attempts``, then ``CommitConflictError``).

    The flip order serializes writers; each one's LWW combine is a
    semilattice join, so any interleaving converges to the same
    snapshot a serial replay would produce. Reader/GC contract: a
    concurrent commit with ``retain_versions=1`` may GC the base
    version's files while step 2 is still reading them — the staging
    fails and retries against the fresh manifest (run concurrent
    writers with ``retain_versions >= 2`` to make that window a full
    version wide; same posture as Delta VACUUM vs in-flight reads).

    Returns the committed manifest — or, for an empty batch, the
    base manifest unchanged (None only if the lake is empty too): an
    empty batch commits nothing, and the return mirrors what a reader
    would see. ``_race_hook(attempt)`` is
    a test seam invoked between staging and flip — deterministic
    interleave injection.

    ``txn=(app_id, version)`` is the idempotence marker (see
    ``merge_batch_into_lake``): already-applied versions skip at
    stage time (free) AND at flip time (a same-app sibling that
    committed the marker mid-race turns this writer's flip into a
    skip instead of a double apply); the marker merges into the
    manifest's per-app watermark map first-class, so a REBASE onto a
    moved manifest never clobbers a sibling app's watermark.

    ``batch_df`` must be DETERMINISTIC (re-evaluable) — same contract
    and same reason as ``merge_batch_into_lake``: the staging
    (``_stage_merge``, shared with the locked writer) evaluates it in
    independent actions."""
    _validate_merge_args(n_buckets, retain_versions)
    _validate_extra_cols(extra_cols)
    _validate_txn(txn)
    spark = batch_df.sparkSession
    #: staging carried across attempts: a lock timeout with an
    #: UNCHANGED manifest keeps the staged result (re-running the
    #: identical Spark job buys nothing)
    pending = None
    try:
        for attempt in range(max_attempts):
            live_v = _version_of(_read_manifest(lake_dir))
            if pending is not None and live_v == _version_of(pending.base):
                staged, pending = pending, None
            else:
                if pending is not None:
                    shutil.rmtree(
                        os.path.join(lake_dir, pending.commit_rel), ignore_errors=True
                    )
                    pending = None
                try:
                    staged = _stage_merge(
                        spark, batch_df, lake_dir, n_buckets, extra_cols, txn,
                        locked=False,
                    )
                except Exception as exc:
                    # retry ONLY the documented GC-vs-read race: the
                    # manifest moved since this attempt began AND the
                    # failure is a missing-file error. A deterministic
                    # staging failure (schema / analysis bug, bad
                    # input) re-raises immediately — retrying it
                    # max_attempts times would surface as
                    # CommitConflictError and mask the root cause.
                    moved = _version_of(_read_manifest(lake_dir)) != live_v
                    if moved and _is_missing_file_error(exc):
                        continue
                    raise
                if staged.commit_rel is None:
                    return staged.base  # replayed txn or empty batch
            if _race_hook is not None:
                _race_hook(attempt)
            _env_race_barrier(attempt)
            try:
                lock = _acquire_lock(lake_dir, wait_s=flip_wait_s)
            except ConcurrentMergeError:
                # flip lock held past flip_wait_s (e.g. a LOCKED writer
                # holding across its whole Spark job): absorbed by the
                # retry budget, as CommitConflictError's contract says.
                # The staging is KEPT — if the holder commits nothing
                # new on our buckets, the next attempt reuses it
                # instead of re-running the identical merge job.
                pending = staged
                continue
            try:
                cur = _read_manifest(lake_dir)
                if _txn_already_applied(cur, txn):
                    # a same-app sibling committed this (or a later)
                    # version mid-race: applying ours on top would be
                    # the exact double apply the marker exists to stop
                    shutil.rmtree(
                        os.path.join(lake_dir, staged.commit_rel), ignore_errors=True
                    )
                    return cur
                # the staging must still exist before its pointers are
                # published: a stage-to-flip gap longer than the GC
                # grace (suspended process, long lock waits) or skewed
                # mtimes (NFS, cross-host clocks) can let a concurrent
                # committer's GC collect it — flipping then would
                # commit dangling bucket pointers. Treat a missing
                # staging as a conflict and recompute.
                staged_alive = os.path.isdir(os.path.join(lake_dir, staged.commit_rel))
                if staged_alive and not _occ_conflicts(
                    staged.base, cur, staged.touched, staged.n_buckets
                ):
                    if _version_of(cur) != _version_of(staged.base):
                        global OCC_REBASES
                        OCC_REBASES += 1
                    return _flip_version(
                        lake_dir,
                        cur,
                        staged.commit_rel,
                        staged.touched,
                        staged.n_buckets,
                        retain_versions,
                        extra=staged.extra,
                        txn=txn,
                    )
            finally:
                try:
                    os.remove(lock)
                except FileNotFoundError:
                    pass
            # a conflicting commit landed between read and flip (or the
            # staging was GC'd out from under us): drop the staging and
            # recompute against the manifest it produced
            global OCC_CONFLICTS
            OCC_CONFLICTS += 1
            shutil.rmtree(os.path.join(lake_dir, staged.commit_rel), ignore_errors=True)
    finally:
        if pending is not None:
            shutil.rmtree(os.path.join(lake_dir, pending.commit_rel), ignore_errors=True)
    raise CommitConflictError(
        f"optimistic merge into {lake_dir} lost {max_attempts} straight races "
        "to concurrent data-changing commits or held flip locks on its buckets"
    )


def merge_lake_sink(
    envelopes: DataFrame,
    lake_dir: str,
    n_buckets: int | None = MERGE_LAKE_BUCKETS,
    retain_versions: int = 1,
    compact_every: int | None = None,
    concurrency: str = "locked",
    extra_cols: tuple = (),
    txn_app_id: str | None = None,
) -> DataStreamWriter:
    """Idempotent, CRASH-ATOMIC MERGE-style CDC materialization into
    a bucketed parquet lake table via ``foreachBatch`` + a manifest
    commit pointer — the production consumer of the snapshot
    semantics (sink_cache's populate/invalidate/purge intent,
    nats.js:25-28) expressed as a table format instead of a KV
    service, modeling the reference's no-loss-after-ack contract
    (slot replay, src/postgresql.js:290-354) on the storage side.

    Per micro-batch MERGE:

    1. combine the batch to ≤1 row per key (last-write-wins), stamp
       the hash bucket;
    2. read back ONLY the affected buckets, resolved through the
       manifest (path-level pruning — the bucket list is
       metadata-sized, like the IVF probe's cell list);
    3. LWW-merge existing rows with the batch rows — delete
       tombstones are RETAINED in the lake (a tombstone must keep
       winning over late-arriving older updates and over replays;
       consumers filter ``last_type != 'delete'``, the purge view);
    4. write the merged buckets to a FRESH ``commits/<version>/``
       directory (live files are never modified), then atomically
       flip ``_lapidus_manifest.json`` to point the affected buckets
       at it. The single ``os.replace`` IS the commit.

    Durability: a crash at ANY point before the flip leaves the
    previous manifest — and therefore the previous table contents —
    fully intact (the half-written commit dir is unreferenced and
    GC'd later); a crash after the flip leaves the merge fully
    applied. Combined with checkpointed offsets (an unflipped merge
    means an uncommitted batch, so the source re-delivers it) and
    step 3's semilattice combine (a re-delivered batch produces
    byte-identical logical content), this is exactly-once effect on
    the table from at-least-once delivery — the contract
    Delta/Iceberg ``MERGE INTO`` provides, built from the one atomic
    primitive plain filesystems offer (rename). Single-writer per
    lake_dir is ENFORCED by a stale-aware lock file (a live second
    writer raises ``ConcurrentMergeError``; a SIGKILLed writer's
    lock is detected dead and broken) — or pass
    ``concurrency="optimistic"`` to let multiple sinks share the
    lake, staging unlocked and locking only the manifest flip
    (``merge_batch_optimistic``). Committed versions are
    retained in the commit log within the ``retain_versions``
    horizon, giving ``read_lake_snapshot(version=...)`` time travel
    and ``lake_changes`` a bucket-pruned change-data-feed.
    ``compact_every=K`` runs ``compact_lake`` in-line after every
    K-th micro-batch, so a long-running sink heals its own
    small-file accretion without operator cron. On a real table
    format, steps 2-4 collapse into one ``MERGE INTO`` with the
    same combine.

    ``txn_app_id`` turns the exactly-once story from idempotent-by-
    recompute into idempotent-by-marker (Delta's txnAppId/
    txnVersion): every micro-batch merge carries ``(txn_app_id,
    epoch_id)``, the manifest records the app's high-water epoch, and
    a redelivered epoch (restart inside the commit-then-checkpoint
    window, checkpoint rollback) is SKIPPED outright instead of
    re-merged to identical bytes — at 100 TB that is k rewritten
    buckets saved per restart. Must be unique per (sink, lake)
    pair; two sinks sharing an app id would drop each other's
    batches."""
    if concurrency not in ("locked", "optimistic"):
        raise ValueError(
            f"concurrency must be 'locked' or 'optimistic', got {concurrency!r}"
        )

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        txn = (txn_app_id, int(epoch_id)) if txn_app_id else None
        if concurrency == "optimistic":
            # multiple sinks (daemons) sharing one lake: stage
            # unlocked, lock only the manifest flip, rebase across
            # disjoint-bucket / physical-only commits (see
            # merge_batch_optimistic). Each sink still checkpoints
            # its own offsets; the semilattice combine makes any
            # commit interleaving converge.
            merge_batch_optimistic(
                batch_df,
                lake_dir,
                n_buckets=n_buckets,
                retain_versions=retain_versions,
                extra_cols=extra_cols,
                txn=txn,
            )
        else:
            merge_batch_into_lake(
                batch_df,
                lake_dir,
                n_buckets=n_buckets,
                retain_versions=retain_versions,
                extra_cols=extra_cols,
                txn=txn,
            )
        # opportunistic maintenance: every compact_every-th micro-batch
        # heals the sink's own small-file accretion in-line (a no-op —
        # no new version — when nothing is degraded, so checkpoint
        # replays of a compacting epoch stay idempotent). Runs between
        # this batch's commit and the next batch's lock acquisition,
        # so it never interleaves with a merge.
        # guard: all-empty/gated batches so far mean no manifest yet —
        # skip rather than kill the stream on "no manifest to compact"
        if (
            compact_every is not None
            and (epoch_id + 1) % compact_every == 0
            and _read_manifest(lake_dir) is not None
        ):
            # optimistic sinks compact optimistically too: a sibling
            # sink's mid-flight merge just drops those buckets from
            # this compaction instead of deadlocking on the lock
            compact_lake(
                batch_df.sparkSession,
                lake_dir,
                retain_versions=retain_versions,
                concurrency=concurrency,
            )

    # append mode: the stateful combine lives INSIDE the batch merge,
    # not in a streaming state store — the lake IS the state.
    return envelopes.writeStream.foreachBatch(merge).outputMode("append")


def predicate_merge_sink(
    source_stream: DataFrame,
    lake_dir: str,
    when_matched: tuple = (),
    when_not_matched: tuple = (),
    stamp_cols: tuple = ("event_seq", "ts"),
    n_buckets: int | None = None,
    retain_versions: int = 1,
    extra_cols: tuple = (),
    txn_app_id: str | None = None,
) -> DataStreamWriter:
    """The STREAMING general-predicate MERGE — ``merge_lake_sink``'s
    conditional sibling (VERDICT r10 #1 carried onto the live path):
    each micro-batch applies the Delta-shaped clause set through
    ``merge_into_lake``, so a consumer's arbitrary per-event logic
    (the reference's row callbacks, src/postgresql.js:503-537) runs
    as declared SQL inside the same crash-atomic commit protocol —
    constraints, CDF pre-images, schema evolution, OCC locking and
    time travel unchanged.

    Stamps come from the SOURCE rows (``stamp_cols``), which is what
    makes this correct as a stream: every emitted row carries its
    event's own (seq, ts), so the final LWW state is independent of
    how events split into micro-batches, and a redelivered batch
    re-emits rows that combine to identical bytes. ``txn_app_id``
    additionally makes redelivery FREE (idempotent-by-marker, same
    contract as merge_lake_sink). Within one batch the sink keeps
    only each key's stamp-maximal row before the clause evaluation
    (``merge_into_lake`` refuses duplicate keys — one target row,
    one clause outcome): the discarded rows' outcomes would have
    lost the LWW combine to the kept row's anyway.

    Caveat shared with every per-batch MERGE (Delta's foreachBatch
    pattern included): clause ROUTING is evaluated against the state
    at the batch's commit time, so clause sets whose matched/
    not-matched branches produce different values for the same
    source row are sensitive to batch boundaries — CDC-shaped upsert
    clauses (update and insert both taking source values,
    conditions over the source row) are boundary-independent.
    ``when_not_matched_by_source`` is batch-scoped nonsense for a
    stream (absent-from-this-batch ≠ retired upstream) and is not
    exposed; full-state re-sync streams use the snapshot sink."""

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        seq_c, ts_c = stamp_cols
        if batch_df.isEmpty():
            return
        # one row per key: the stamp-maximal event (see docstring)
        others = [c for c in batch_df.columns if c != "pk"]
        deduped = (
            batch_df.groupBy("pk")
            .agg(
                F.max_by(
                    F.struct(*others), F.struct(ts_c, seq_c)
                ).alias("w")
            )
            .select("pk", *[F.col(f"w.{c}").alias(c) for c in others])
        )
        merge_into_lake(
            deduped,
            lake_dir,
            when_matched=when_matched,
            when_not_matched=when_not_matched,
            stamp_cols=stamp_cols,
            n_buckets=n_buckets,
            retain_versions=retain_versions,
            extra_cols=extra_cols,
            txn=(txn_app_id, int(epoch_id)) if txn_app_id else None,
        )

    return source_stream.writeStream.foreachBatch(apply).outputMode("append")
