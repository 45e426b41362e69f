"""Adversarial correctness properties for the near-dup machinery.

Two claims the pipeline's scale story leans on get direct tests
against brute-force ground truth on seeded random inputs:

1. The PPJoin candidate generator (prefix + length + positional
   filters, functions/dedup.py:_ngram_prefix_candidates) is an
   EXACT SUPERSET of the qualifying pairs within its (lang,
   len_band) blocking — the round-4 claim that made the filters
   admissible without parity risk.
2. Connected components (min_label_propagation) equal union-find
   components on arbitrary graphs, on both of its paths — the
   driver-side union-find and the distributed min-label rounds —
   including shapes the minhash fixture never produces (paths near
   the round bound, stars, isolated edges, multi-component forests,
   NULL endpoints).
"""

from __future__ import annotations

import itertools
import random

import pytest
from pyspark.sql import functions as F

from lapidus_spark.functions.dedup import (
    JACCARD_T,
    LENGTH_BAND,
    _ngram_df_sorted,
    _ngram_prefix_candidates,
    min_label_propagation,
)
from lapidus_spark.session import broadcast_threshold


def _brute_force_pairs(docs: list[tuple[int, str, str]]) -> set[tuple[int, int]]:
    """All (doc_a < doc_b) with token-Jaccard >= JACCARD_T inside the
    generator's (lang, len_band) blocking."""
    toks = {d: set(t.lower().split(" ")) for d, _, t in docs}
    lang = {d: lg for d, lg, _ in docs}
    band = {d: len(t) // LENGTH_BAND for d, _, t in docs}
    out = set()
    for (a, _, _), (b, _, _) in itertools.combinations(docs, 2):
        if lang[a] != lang[b] or band[a] != band[b]:
            continue
        inter = len(toks[a] & toks[b])
        if inter and inter / (len(toks[a]) + len(toks[b]) - inter) >= JACCARD_T:
            out.add((min(a, b), max(a, b)))
    return out


@pytest.mark.parametrize("seed", [7, 23, 101, 9001])
def test_prefix_candidates_are_exact_superset(spark, seed):
    """No qualifying pair is ever lost to the prefix, length, or
    positional prune — on corpora with adversarial df skew (a
    stopword in nearly every doc) and near-threshold pair sizes.

    Complements test_scale.py's lemma test (raw token sets, one
    blocking bucket): this one drives the FULL text path — real
    tokenization, n_chars-derived length bands, two languages — so
    the (lang, len_band) blocking semantics are part of the oracle,
    not fixed out."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for i in range(40):
        n = rng.randint(2, 12)
        words = rng.sample(vocab, n)
        if rng.random() < 0.8:
            words.append("the")  # corpus-wide stopword: worst-case df
        # duplicate clusters: every 7th doc is a near-copy of doc i-1
        if i % 7 == 1 and docs:
            prev = docs[-1][2].split(" ")
            keep = max(1, int(len(prev) * 0.8))
            words = prev[:keep] + [rng.choice(vocab)]
        docs.append((i, rng.choice(["en", "de"]), " ".join(dict.fromkeys(words))))

    sdf = spark.createDataFrame(
        [(d, lg, t, len(t)) for d, lg, t in docs],
        "doc_id LONG, lang STRING, text STRING, n_chars LONG",
    )
    t = sdf.select(
        "doc_id",
        "lang",
        (F.col("n_chars") / LENGTH_BAND).cast("long").alias("len_band"),
        F.expr("array_distinct(split(lower(text), ' '))").alias("ts"),
    )
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in _ngram_prefix_candidates(_ngram_df_sorted(t), JACCARD_T).collect()
    }
    truth = _brute_force_pairs(docs)
    missing = truth - cand
    assert not missing, f"prefix filter lost qualifying pairs: {sorted(missing)}"


def test_ngram_index_is_order_preserving_dict_encode(spark):
    """Round-13 internals pin for the dictionary-encoded index: st is
    an ascending array<int> of token ids whose RANK ORDER equals the
    legacy (df ASC, token ASC) struct sort — so the prefix slice keeps
    selecting exactly the df-rarest tokens, the lemma's global total
    order is unchanged, and an injective recode cannot alter any
    intersection size the verify join counts."""
    docs = [
        (0, "en", "alpha beta gamma"),
        (1, "en", "alpha beta delta"),
        (2, "en", "beta epsilon zeta eta"),
        (3, "de", "alpha beta"),
    ]
    sdf = spark.createDataFrame(
        [(d, lg, t, len(t)) for d, lg, t in docs],
        "doc_id LONG, lang STRING, text STRING, n_chars LONG",
    )
    t = sdf.select(
        "doc_id",
        "lang",
        (F.col("n_chars") / LENGTH_BAND).cast("long").alias("len_band"),
        F.expr("array_distinct(split(lower(text), ' '))").alias("ts"),
    )
    out = {r["doc_id"]: r["st"] for r in _ngram_df_sorted(t).collect()}
    # schema: 4-byte ids, not strings/structs (the shuffle-byte claim)
    st_type = dict(_ngram_df_sorted(t).dtypes)["st"]
    assert st_type == "array<int>", st_type
    # reference ranks computed in plain Python: df over the corpus,
    # rank by (df, token), 1-based like row_number
    toks = {d: set(txt.lower().split(" ")) for d, _, txt in docs}
    df_of: dict[str, int] = {}
    for ts in toks.values():
        for w in ts:
            df_of[w] = df_of.get(w, 0) + 1
    rank = {
        w: i + 1
        for i, (_, w) in enumerate(sorted((df, w) for w, df in df_of.items()))
    }
    for d, ts in toks.items():
        expected = sorted(rank[w] for w in ts)
        assert out[d] == expected, (d, out[d], expected)


@pytest.mark.parametrize("seed", [13, 4242])
def test_distributed_rank_equals_legacy_single_partition_rank(spark, seed):
    """Round-14 internals pin for the two-phase vocabulary rank
    (VERDICT r13 #1): on a seeded random corpus with adversarial df
    skew, the distributed rank's token ids are BIT-EQUAL to the
    global row_number window over (df, token) — and the distributed
    build plans carry no single-partition exchange (while the global
    window provably does, which keeps this assertion meaningful)."""
    from pyspark.sql.window import Window

    from lapidus_spark.functions import dedup

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(60)]
    docs = []
    for i in range(50):
        words = rng.sample(vocab, rng.randint(2, 14))
        if rng.random() < 0.7:
            words.append("the")
        docs.append((i, rng.choice(["en", "de"]), " ".join(dict.fromkeys(words))))
    sdf = spark.createDataFrame(
        [(d, lg, t, len(t)) for d, lg, t in docs],
        "doc_id LONG, lang STRING, text STRING, n_chars LONG",
    )
    t = sdf.select(
        "doc_id",
        "lang",
        (F.col("n_chars") / LENGTH_BAND).cast("long").alias("len_band"),
        F.expr("array_distinct(split(lower(text), ' '))").alias("ts"),
    )
    tok = t.select(
        "doc_id", "lang", "len_band", F.size("ts").alias("n_toks"),
        F.explode("ts").alias("token"),
    )
    dfreq = tok.groupBy("token").agg(F.count("*").alias("df"))
    # reference: the single-partition global rank window
    legacy_tdict = dfreq.select(
        "token", F.row_number().over(Window.orderBy("df", "token")).alias("tid")
    )
    legacy = {
        r["doc_id"]: r["st"]
        for r in tok.join(legacy_tdict, "token")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("tid")).alias("st"))
        .collect()
    }
    new = {r["doc_id"]: r["st"] for r in _ngram_df_sorted(t).collect()}
    assert new == legacy

    # plan shape: the distributed rank never funnels the vocabulary
    # through one task; the global window does (the r13 scale ceiling)

    def plan_of(df) -> str:
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    p = max(2, spark.sparkContext.defaultParallelism)
    assert "SinglePartition" not in plan_of(
        dfreq.repartitionByRange(p, "df", "token")
    )
    assert "SinglePartition" not in plan_of(dedup._rank_vocab(dfreq))
    assert "SinglePartition" in plan_of(legacy_tdict)


def _union_find(n_edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in n_edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


#: min_label_propagation's two paths: the driver-side union-find the
#: default conf takes for these small edge sets, and the distributed
#: rounds (``autoBroadcastJoinThreshold=-1``)
PATHS = ("driver", "rounds")


def _components(spark, request, path: str, edges, ddl: str = "src LONG, dst LONG"):
    if path == "rounds":
        request.getfixturevalue("distributed_path")
    return min_label_propagation(spark.createDataFrame(edges, ddl))


@pytest.mark.parametrize("path", PATHS)
@pytest.mark.parametrize(
    "name,edges",
    [
        # a path whose min sits at one end: needs length-many rounds
        ("path", [(i, i + 1) for i in range(20)]),
        # star with the min at a leaf, plus an isolated edge
        ("star+edge", [(5, i) for i in range(6, 16)] + [(0, 5), (100, 101)]),
        # forest of rings of coprime sizes
        ("rings", [(i, (i + 1) % 7) for i in range(7)]
                  + [(10 + i, 10 + (i + 1) % 5) for i in range(5)]),
    ],
)
def test_min_label_propagation_matches_union_find(spark, request, name, edges, path):
    got = {
        r["doc_id"]: r["component"]
        for r in _components(spark, request, path, edges).collect()
    }
    assert got == _union_find(edges), name


@pytest.mark.parametrize("path", PATHS)
@pytest.mark.parametrize("seed", [3, 17])
def test_min_label_propagation_random_graphs(spark, request, seed, path):
    rng = random.Random(seed)
    nodes = list(range(25))
    edges = [
        (a, b)
        for a, b in itertools.combinations(nodes, 2)
        if rng.random() < 0.08
    ] or [(0, 1)]
    got = {r["doc_id"]: r["component"] for r in _components(spark, request, path, edges).collect()}
    assert got == _union_find(edges)


@pytest.mark.parametrize("path", PATHS)
def test_min_label_propagation_null_endpoints(spark, request, path):
    """A NULL endpoint joins nothing: the rounds' joins never match
    NULL, so NULL is one (NULL, NULL) row and the other endpoint keeps
    only its other edges. The driver path returns the same rows and
    types."""
    edges = [(1, None), (None, 2), (1, 3), (None, None), (5, None), (4, 5)]
    df = _components(spark, request, path, edges, "src INT, dst INT")
    assert df.dtypes == [("doc_id", "int"), ("component", "int")]
    assert sorted(df.collect(), key=lambda r: (r[0] is not None, r[0])) == [
        (None, None), (1, 1), (2, 2), (3, 1), (4, 4), (5, 4)
    ]


def _plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_min_label_propagation_path_boundary(spark):
    """An edge is 16 bytes: ``threshold // 16`` edges are solved on the
    driver (a LocalTableScan), one more edge goes to the rounds."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(16 * 8 + 15))
    try:
        edges = [(i, i + 1) for i in range(0, 16, 2)]
        fits = min_label_propagation(spark.createDataFrame(edges, "src LONG, dst LONG"))
        over = min_label_propagation(
            spark.createDataFrame(edges + [(1, 2)], "src LONG, dst LONG")
        )
        assert "LocalTableScan" in _plan_of(fits)
        assert "LocalTableScan" not in _plan_of(over)
        assert {r[0]: r[1] for r in fits.collect()} == _union_find(edges)
        assert {r[0]: r[1] for r in over.collect()} == _union_find(edges + [(1, 2)])
    finally:
        spark.conf.set(key, prev)


def test_min_label_propagation_driver_path_jobs(spark):
    """Job-group audit of the driver path: building the components
    launches only the jobs of collecting the edges, and collecting the
    returned frame launches none."""
    sc = spark.sparkContext
    edges = spark.range(40).select(
        F.col("id").alias("src"), ((F.col("id") * 7) % 40).alias("dst")
    )
    cap = broadcast_threshold(spark) // 16

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setJobGroup(None, None)
        return out, list(sc.statusTracker().getJobIdsForGroup(group))

    _, probe_jobs = jobs("mlp_probe", lambda: edges.limit(cap + 1).toArrow())
    df, build_jobs = jobs("mlp_build", lambda: min_label_propagation(edges))
    rows, collect_jobs = jobs("mlp_collect", df.collect)
    assert probe_jobs and len(build_jobs) == len(probe_jobs)
    assert collect_jobs == []
    pairs = [(r, r * 7 % 40) for r in range(40)]
    assert {r[0]: r[1] for r in rows} == _union_find(pairs)


@pytest.mark.parametrize("seed", [11, 47, 313])
def test_lww_merge_is_a_semilattice_join(spark, seed):
    """The lake MERGE's correctness claim (streaming/materialize.py):
    incremental LWW-combining arbitrary batch groupings — with
    replayed rows — equals the one-shot combine of the whole history.
    Adversarial inputs the fixture never produces: same-entity
    same-ts different-seq ties, deletes in the middle and at the end,
    entities confined to one batch, rows duplicated across batches."""
    import datetime

    from lapidus_spark.streaming.materialize import _lww_combine

    rng = random.Random(seed)
    rows = []
    for seq in range(120):
        ent = f"e{rng.randrange(12)}"
        # coarse ts: many exact ts-ties so the seq tiebreak is live
        ts = datetime.datetime(2024, 1, 1) + datetime.timedelta(hours=rng.randrange(8))
        typ = rng.choice(["insert", "update", "update", "delete"])
        rows.append((ent, seq, ts, typ, None if typ == "delete" else f"v{seq}", seq % 4))
    schema = "entity_id string, last_seq long, last_ts timestamp, last_type string, item string, bucket int"
    df = spark.createDataFrame(rows, schema)

    oneshot = _lww_combine(df)

    # random batch grouping, shuffled apply order, one batch replayed
    n_batches = rng.randrange(2, 5)
    assignment = [rng.randrange(n_batches) for _ in rows]
    batches = [
        spark.createDataFrame([r for r, b in zip(rows, assignment) if b == i], schema)
        for i in range(n_batches)
    ]
    order = list(range(n_batches))
    rng.shuffle(order)
    order.append(order[0])  # at-least-once: replay one batch
    acc = batches[order[0]]
    state = _lww_combine(acc)
    for i in order[1:]:
        state = _lww_combine(state.unionByName(batches[i]))

    cols = ["entity_id", "last_seq", "last_type", "item"]
    got = sorted(map(tuple, state.select(*cols).collect()))
    want = sorted(map(tuple, oneshot.select(*cols).collect()))
    assert got == want
