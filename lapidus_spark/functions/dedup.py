"""Deduplication extension operators (SURVEY.md §2.9, ext_dedup_*).

Four dedup strategies over ``documents``, each scale-shaped:

- exact:   hash-groupBy on normalized text → one shuffle on a short
           hash key; canonical row via min(doc_id).
- minhash: shingle → 8 minhashes → 4 LSH bands → candidate pairs via
           an equi-join on (band_id, band_hash). At 100 TB the band
           join is the only shuffle and its key space is huge (md5),
           so it partitions evenly; no O(n²) stage anywhere.
- simhash: per-doc 16-bit signature, computed entirely inside
           whole-stage codegen via higher-order functions (no UDF, no
           shuffle at all).
- ngram:   token-set Jaccard *within blocking buckets*
           (lang × length band) — the classic candidate-blocking
           trick that keeps the pair join bounded per bucket.

Everything is expressed in both Spark SQL and DuckDB SQL with pinned
fold orders and md5-derived hashing (identical hex in both engines),
so results hash-match exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lapidus_spark.functions.exprs import let_
from lapidus_spark.plans.registry import query
from lapidus_spark.sources.tables import load_table

N_MINHASH = 8
N_BANDS = 4  # rows-per-band = 2
SIMHASH_BITS = 16
JACCARD_T = 0.5
LENGTH_BAND = 100

#: skew guard: LSH buckets larger than this are degenerate (empty/
#: boilerplate text collapsing to one signature) and are DROPPED
#: before the pair join — one hot bucket of m docs would otherwise
#: emit m² candidate pairs into a single task at 100 TB. Identical
#: documents are ext_dedup_exact's job (one shuffle, no pair
#: explosion); near-dup candidate generation prunes them as LSH
#: stop-buckets. Fixture max bucket ≈ 9, so the cap never fires on
#: real data — it exists for the adversarial tail.
MAX_BUCKET_DOCS = 1000


@query(
    "ext_dedup_exact",
    oracle="""
    WITH h AS (
      SELECT doc_id, sha256(lower(trim(text))) AS text_hash
      FROM documents
    )
    SELECT text_hash, min(doc_id) AS keep_doc_id, count(*) AS n_copies
    FROM h GROUP BY text_hash
    """,
    operator="ext_dedup_exact",
    doc="Exact dedup on normalized-text hash; canonical row = lowest "
    "doc_id (deterministic rank-pick).",
)
def ext_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", parallel=True)
    return (
        d.select("doc_id", F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


# ---------------------------------------------------------------- minhash

_SH_SPARK = (
    "CASE WHEN size(toks) >= 3 THEN "
    "transform(sequence(1, size(toks) - 2), i -> "
    "concat_ws(' ', element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))) "
    "ELSE slice(toks, 1, 0) END"
)
_SH_DUCK = (
    "list_transform(range(1, greatest(len(toks) - 2, 0) + 1), i -> "
    "concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))"
)


def _mh_exprs(dialect: str) -> list[str]:
    """8 minhashes from ONE md5 per shingle: the 32-hex digest is
    sliced into eight 4-hex (16-bit) independent hash values — 8×
    fewer digest computations than hashing per-function, same LSH
    semantics. `hs` is the per-shingle digest array."""
    m = "array_min" if dialect == "spark" else "list_min"
    t = "transform" if dialect == "spark" else "list_transform"
    return [
        f"{m}({t}(hs, h -> substr(h, {4 * i + 1}, 4))) AS mh{i}" for i in range(N_MINHASH)
    ]


def _band_hash(b: int) -> str:
    return f"md5(concat(mh{2 * b}, '|', mh{2 * b + 1}))"


#: the minhash pair-generation oracle, shared by ext_dedup_minhash and
#: (as a CTE) the connected-components oracle below.
_MINHASH_PAIRS_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
    ), s AS (
      SELECT doc_id, {_SH_DUCK} AS sh FROM t
    ), hd AS (
      SELECT doc_id, list_transform(sh, s -> md5(s)) AS hs
      FROM s WHERE len(sh) > 0
    ), m AS (
      SELECT doc_id, {", ".join(_mh_exprs("duck"))}
      FROM hd
    ), b AS (
      {" UNION ALL ".join(f"SELECT doc_id, {b} AS band_id, {_band_hash(b)} AS band_hash FROM m" for b in range(N_BANDS))}
    ), bf AS (
      -- skew guard: degenerate buckets (> MAX_BUCKET_DOCS) dropped
      SELECT doc_id, band_id, band_hash
      FROM (SELECT *, count(*) OVER (PARTITION BY band_id, band_hash) AS bucket_n FROM b)
      WHERE bucket_n <= {MAX_BUCKET_DOCS}
    )
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
    FROM bf x JOIN bf y
      ON x.band_id = y.band_id AND x.band_hash = y.band_hash
         AND x.doc_id < y.doc_id
"""


@query(
    "ext_dedup_minhash",
    oracle=_MINHASH_PAIRS_ORACLE,
    operator="ext_dedup_near (minhash+LSH)",
    doc="MinHash+LSH near-dup candidates: 3-word shingles → 8 "
    "md5-minhashes → 4 bands of 2 → band-bucket equi-join. Buckets "
    "over MAX_BUCKET_DOCS are pruned pre-join (skew guard: no "
    "quadratic task from a degenerate bucket).",
)
def ext_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Single let-bound expression tree: split → shingle → one md5 pass
    # → 8 minhash slices → 4 band hashes. Without let_, CollapseProject
    # would inline the md5 pass into every minhash projection (8×
    # recompute, measured 10× slower). substr positions: minhash i
    # slices hex [4i+1, 4i+4]; band b pairs minhashes 2b and 2b+1 →
    # positions 8b+1 and 8b+5.
    sh_body = (
        "transform(sequence(1, size(toks) - 2), i -> "
        "concat_ws(' ', element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2)))"
    )
    bands_expr = let_(
        "split(lower(text), ' ')",
        "toks",
        let_(
            sh_body,
            "sh",
            let_(
                "transform(sh, s -> md5(s))",
                "hsv",
                f"transform(sequence(0, {N_BANDS - 1}), b -> named_struct("
                "'band_id', b, "
                "'band_hash', md5(concat("
                "array_min(transform(hsv, h -> substr(h, 8 * b + 1, 4))), '|', "
                "array_min(transform(hsv, h -> substr(h, 8 * b + 5, 4)))))))",
            ),
        ),
    )
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents", parallel=True)
    bands = (
        d.filter(F.expr("size(split(lower(text), ' ')) >= 3"))
        .select("doc_id", F.explode(F.expr(bands_expr)).alias("band"))
        .select("doc_id", "band.band_id", "band.band_hash")
    )
    # skew guard: count per bucket (window on the SAME key as the
    # join, so the exchange is shared) and drop degenerate buckets
    # before any pair is formed.
    wb = Window.partitionBy("band_id", "band_hash")
    bands = (
        bands.withColumn("bucket_n", F.count("*").over(wb))
        .filter(F.col("bucket_n") <= MAX_BUCKET_DOCS)
        .drop("bucket_n")
    )
    x, y = bands.alias("x"), bands.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )


# ---------------------------------------------------------------- simhash


def _simhash_exprs(dialect: str) -> tuple[str, list[str], str]:
    """Returns (hvs expr, per-bit sum exprs, final signature expr)."""
    if dialect == "spark":
        hvs = (
            "transform(split(lower(text), ' '), "
            "t -> CAST(conv(substr(md5(t), 1, 4), 16, 10) AS INT))"
        )
        bits = [
            f"aggregate(hvs, 0, (a, h) -> a + "
            f"(CASE WHEN shiftright(h, {j}) & 1 = 1 THEN 1 ELSE -1 END)) AS s{j}"
            for j in range(SIMHASH_BITS)
        ]
    else:
        hvs = (
            "list_transform(string_split(lower(text), ' '), "
            "t -> CAST(concat('0x', substr(md5(t), 1, 4)) AS INT))"
        )
        bits = [
            f"list_sum(list_transform(hvs, h -> "
            f"CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END)) AS s{j}"
            for j in range(SIMHASH_BITS)
        ]
    sig = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(SIMHASH_BITS)
    )
    return hvs, bits, f"CAST({sig} AS BIGINT)"


@query(
    "ext_dedup_simhash",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, {_simhash_exprs("duck")[0]} AS hvs FROM documents
    ), b AS (
      SELECT doc_id, {", ".join(_simhash_exprs("duck")[1])} FROM h
    )
    SELECT doc_id, {_simhash_exprs("duck")[2]} AS simhash FROM b
    """,
    operator="ext_dedup_near (simhash)",
    doc=f"{SIMHASH_BITS}-bit SimHash per document: ±1 vote per token "
    "per bit from a md5-derived token hash; near-dups share "
    "signatures (grouping on `simhash` buckets them).",
)
def ext_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", parallel=True)
    hvs_expr, _, _ = _simhash_exprs("spark")
    # let-bind the md5-derived token-hash array so the 16 per-bit vote
    # sums share ONE hashing pass (CollapseProject would re-inline it
    # into each bit otherwise).
    votes = " + ".join(
        f"(CASE WHEN aggregate(hv, 0, (a, h) -> a + "
        f"(CASE WHEN shiftright(h, {j}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    sig = f"CAST({let_(hvs_expr, 'hv', votes)} AS BIGINT)"
    return d.select("doc_id", F.expr(sig).alias("simhash"))


# ---------------------------------------------------------------- ngram jaccard


@query(
    "ext_dedup_ngram",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, n_chars // {LENGTH_BAND} AS len_band,
             list_distinct(string_split(lower(text), ' ')) AS ts
      FROM documents
    ), tok AS (
      SELECT doc_id, lang, len_band, len(ts) AS n_toks, unnest(ts) AS token
      FROM t
    ), p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             count(*) AS n_inter,
             any_value(a.n_toks) + any_value(b.n_toks) AS n_sum
      FROM tok a JOIN tok b
        ON a.token = b.token AND a.lang = b.lang
           AND a.len_band = b.len_band AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(n_inter AS DOUBLE) / (n_sum - n_inter) AS jaccard
    FROM p
    WHERE CAST(n_inter AS DOUBLE) / (n_sum - n_inter) >= {JACCARD_T}
    """,
    operator="ext_dedup_near (ngram jaccard)",
    doc="Token-set Jaccard near-dup pairs via a PREFIX-FILTERED "
    "inverted index (AllPairs/PPJoin principle): each doc indexes "
    "only its |x| - ceil(t*|x|) + 1 globally-rarest tokens (df-"
    "ascending order), because any pair with J >= t must share a "
    "token inside both prefixes. Candidates are verified exactly via "
    "array_intersect, so the result is IDENTICAL to the naive "
    "full-index join (the oracle states the naive formulation) while "
    "a df-heavy stopword can never fan out quadratically — it sorts "
    "to the back of every doc and stays out of the index. Blocking "
    "on lang × length band bounds candidates further.",
)
def ext_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = spark.read.parquet(build_ngram_index(spark, sf_dir))
    cand = _ngram_prefix_candidates(agg, JACCARD_T)
    # st is the dictionary-encoded token-id array; an injective recode
    # preserves every intersection size, so the jaccard doubles are
    # bit-identical to the string-array formulation the oracle states
    tsdf = agg.select("doc_id", F.col("st").alias("ts"))
    ta = tsdf.select(F.col("doc_id").alias("doc_a"), F.col("ts").alias("ts_a"))
    tb = tsdf.select(F.col("doc_id").alias("doc_b"), F.col("ts").alias("ts_b"))
    pairs = cand.join(ta, "doc_a").join(tb, "doc_b")
    inter = F.size(F.array_intersect("ts_a", "ts_b"))
    jac = inter.cast("double") / (F.size("ts_a") + F.size("ts_b") - inter)
    return pairs.select("doc_a", "doc_b", jac.alias("jaccard")).filter(jac >= JACCARD_T)


#: per-doc df-sorted token index dirs, cached per (process, sf_dir).
_NGRAM_INDEX_DIRS: dict[str, str] = {}


def build_ngram_index(spark: SparkSession, sf_dir: str) -> str:
    """Persist the per-doc df-sorted token index once per (process,
    sf_dir) — the ingest-time build the prefix-filtered Jaccard join
    probes (same build-once-probe-many shape as the IVF cell index
    and the keywords df index). The prefix index and both verify
    sides all read this parquet; without it each consumer would
    re-tokenize and re-df-join the whole corpus."""
    if sf_dir in _NGRAM_INDEX_DIRS:
        return _NGRAM_INDEX_DIRS[sf_dir]
    import tempfile

    d = load_table(spark, sf_dir, "documents", parallel=True)
    t = d.select(
        "doc_id",
        "lang",
        (F.col("n_chars") / LENGTH_BAND).cast("long").alias("len_band"),
        F.expr("array_distinct(split(lower(text), ' '))").alias("ts"),
    )
    out = tempfile.mkdtemp(prefix="lapidus_ngram_index_")
    _ngram_df_sorted(t).write.mode("overwrite").parquet(out)
    _NGRAM_INDEX_DIRS[sf_dir] = out
    return out


def _ngram_df_sorted(t: DataFrame) -> DataFrame:
    """Per doc: its distinct tokens DICTIONARY-ENCODED as an ascending
    ``array<int>`` of token ids, where id = row_number of the token in
    the global (df ASC, token ASC) order — so sorting by id IS the
    df-ascending total order prefix filtering requires, and both the
    prefix index and the verify arrays ship 4-byte ints instead of
    (df, token) structs / string arrays. One df aggregation + one
    rank + one token-key join + one per-doc regroup.

    Round-13 optimization (guide §2.3 "narrower types" / "shuffle
    keys instead of payloads"): the verify join ships every doc's
    token array twice; int-encoding cut the written index 39% and the
    measured query floor 1.55x at sf0.1 (experiments/
    ab_ngram_encode.py, result sets asserted identical — jaccard
    divides the same integer counts, and an injective recode cannot
    change any intersection size). Round 14 (VERDICT r13 #1, guide
    §2.2): the rank itself is now the distributed two-phase
    ``_rank_vocab`` — no single-partition exchange anywhere in the
    index build; ids are bit-identical to a global row_number over
    (df, token) (pinned by tests/test_dedup_props.py)."""
    tok = t.select(
        "doc_id", "lang", "len_band", F.size("ts").alias("n_toks"), F.explode("ts").alias("token")
    )
    # df = docs containing the token (ts is distinct per doc)
    dfreq = tok.groupBy("token").agg(F.count("*").alias("df"))
    return (
        tok.join(_rank_vocab(dfreq), "token")
        .groupBy("doc_id", "lang", "len_band", "n_toks")
        .agg(F.sort_array(F.collect_list("tid")).alias("st"))
    )


def _rank_vocab(dfreq: DataFrame) -> DataFrame:
    """Distributed two-phase dense rank of the vocabulary in (df ASC,
    token ASC) order — ``(token, tid)`` with tid bit-equal to
    ``row_number().over(Window.orderBy("df", "token"))``.

    The round-13 shape funneled the whole vocabulary through ONE task
    (Window.orderBy with no partitionBy — the exact guide-§2.2
    anti-pattern the plan audit's ``no_single_partition`` contract
    exists to catch; it survived because the rank runs at index-BUILD
    time, outside the query-plan pin). n-gram vocabularies at corpus
    scale are billions of entries, so that one task is a hard scale
    ceiling on the ingest build. Two-phase replacement:

    1. range-partition the vocabulary by (df, token) and materialize
       it once (localCheckpoint — pins partition membership so the
       count and rank passes provably see identical placement, and
       lets the blocks be GC-reclaimed without unpersist bookkeeping);
    2. ONE tiny job counts rows per partition (map-side partial agg →
       P integers to the driver); partition offsets are their running
       sum — range partition ids are ordered, so offset(pid) is
       exactly the number of vocabulary entries in earlier ranges;
    3. rank = offset(pid) + row_number within the partition (a window
       PARTITIONED by pid — parallel across P tasks, each bounded by
       the range partitioner's balanced split, never the whole vocab).

    Every stage is parallel in the vocabulary size; the only
    single-point data is the P-integer offset map."""
    from pyspark.sql.window import Window

    spark = dfreq.sparkSession
    p = max(2, spark.sparkContext.defaultParallelism)
    ranged = dfreq.repartitionByRange(p, "df", "token").localCheckpoint()
    counts = {
        r["pid"]: r["n"]
        for r in ranged.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    offs, run = [], 0
    for pid in range(p):
        offs.append((pid, run))
        run += int(counts.get(pid, 0))
    off_df = spark.createDataFrame(offs, "pid INT, off BIGINT")
    w = Window.partitionBy("pid").orderBy("df", "token")
    return (
        ranged.withColumn("pid", F.spark_partition_id())
        .withColumn("lr", F.row_number().over(w))
        .join(F.broadcast(off_df), "pid")
        .select("token", (F.col("off") + F.col("lr")).cast("int").alias("tid"))
    )


def _ngram_prefix_candidates(agg: DataFrame, threshold: float) -> DataFrame:
    """Candidate (doc_a, doc_b) pairs for the token-Jaccard join via
    prefix filtering over ``_ngram_df_sorted`` output.

    Exactness (the prefix-filter lemma): J(x,y) >= t implies
    |x ∩ y| >= ceil(t*|x|) and >= ceil(t*|y|); under one global total
    order on tokens, if the two prefixes of length |.| - ceil(t*|.|)
    + 1 were disjoint, the smallest common token would sit in one
    doc's suffix, forcing |x ∩ y| <= ceil(t*|.|) - 1 — contradiction.
    So indexing prefixes only never loses a qualifying pair.

    Scale shape: tokens are ordered by ascending document frequency,
    so corpus-wide stopwords sort to the back of every doc and are
    indexed only by docs that consist of almost nothing else — the m²
    fan-out a raw inverted index suffers on 'the' cannot happen.

    Two further PPJoin prunes run INSIDE the join condition, before
    the distinct and the array-verify join — both keep a superset of
    the qualifying pairs, so exactness is untouched:

    - length filter: J >= t forces t*|x| <= |y| <= |x|/t;
    - positional filter: for the pair's FIRST common token (the only
      one a qualifying pair needs to pass with), overlap(x,y) <=
      1 + min(|x| - pos_x, |y| - pos_y), and J >= t forces
      overlap >= t/(1+t) * (|x|+|y|) — a token matching too deep in
      both sorted orders cannot be the start of enough overlap.
    """
    prefix_len = (F.col("n_toks") - F.ceil(F.lit(threshold) * F.col("n_toks")) + 1).cast("int")
    pref = (
        agg.select(
            "doc_id",
            "lang",
            "len_band",
            "n_toks",
            # st is the dict-encoded id array, ascending == (df, token)
            # order — the slice IS the df-ascending prefix, and the
            # candidate join keys on a 4-byte int instead of a string
            F.posexplode(F.slice("st", F.lit(1), prefix_len)).alias("pos0", "token"),
        )
        .select(
            "doc_id",
            "lang",
            "len_band",
            "n_toks",
            (F.col("pos0") + 1).alias("pos"),
            "token",
        )
    )
    a, b = pref.alias("a"), pref.alias("b")
    na, nb = F.col("a.n_toks"), F.col("b.n_toks")
    overlap_needed = F.lit(threshold / (1.0 + threshold)) * (na + nb)
    overlap_bound = 1 + F.least(na - F.col("a.pos"), nb - F.col("b.pos"))
    return (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.len_band") == F.col("b.len_band"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (nb >= F.lit(threshold) * na)
            & (na >= F.lit(threshold) * nb)
            & (overlap_bound >= overlap_needed),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


@query(
    "ext_dedup_components",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_MINHASH_PAIRS_ORACLE}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS doc_id, LEAST(src, min(dst)) AS component
    FROM reach GROUP BY src
    """,
    operator="ext_dedup_near (duplicate-cluster connected components)",
    doc="Near-dup pairs → duplicate CLUSTERS via distributed label "
    "propagation (each vertex repeatedly adopts the min label among "
    "itself and its neighbors, Pregel-style): the step a production "
    "dedup pipeline runs after candidate generation to pick one "
    "canonical doc per group. Converges in O(component diameter) "
    "rounds — near-dup clusters are dense, so a handful of shuffles; "
    "the oracle is the quadratic transitive closure (WITH RECURSIVE), "
    "deliberately the formulation that does NOT scale.",
)
def ext_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = (
        ext_dedup_minhash(spark, sf_dir)
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    return min_label_propagation(edges)


def min_label_propagation(edges: DataFrame, max_rounds: int = 32) -> DataFrame:
    """Distributed min-label propagation over an undirected edge set
    given as directed (src, dst) pairs (symmetrized here): every
    vertex repeatedly adopts the min label among itself and its
    neighbors until fixpoint — (doc_id, component) with component =
    the min vertex id of the connected component.

    localCheckpoint (not persist) between rounds: it truncates the
    lineage, so iteration N's plan is one join deep instead of N joins
    deep — without it Catalyst re-analyzes a growing tree every round
    (measured 3× the whole query's runtime at sf0.1). Local checkpoints
    are not executor-loss-tolerant; a long production run on a real
    cluster would point sparkContext.setCheckpointDir at durable
    storage and use .checkpoint() instead.
    """
    edges = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("doc_id")).distinct()
        .withColumn("component", F.col("doc_id"))
        .localCheckpoint()
    )
    for _ in range(max_rounds):  # bound >> any real component diameter
        neigh = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("component").alias("neigh_min"))
        )
        # carry the previous label through the update so convergence is
        # read off the checkpointed result instead of a labels⋈labels join
        new_labels = (
            labels.withColumnRenamed("component", "prev")
            .join(neigh, "doc_id", "left")
            .select(
                "doc_id",
                "prev",
                F.least(F.col("prev"), F.coalesce("neigh_min", F.col("prev"))).alias(
                    "component"
                ),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter("component <> prev").count()
        labels = new_labels.drop("prev")
        if changed == 0:
            return labels
    raise RuntimeError(f"label propagation did not converge in {max_rounds} rounds")


# ---------------------------------------------------- incremental dedup

#: arrivals = every INCR_MOD-th doc; the rest is the standing corpus.
INCR_MOD = 10
#: persisted fingerprint indexes, cached per (process, sf_dir).
_FP_INDEX_DIRS: dict[str, str] = {}


def build_fingerprint_index(spark: SparkSession, sf_dir: str) -> str:
    """Persist the standing corpus's fingerprint index ONCE: set
    fingerprint (sha256 of the sorted distinct token set — exact on
    bag-of-words identity, the cheapest content-defined near-dup key)
    → lowest canonical doc_id, written as parquet repartitioned and
    sorted by fingerprint so the file min/max stats are tight. At
    100 TB this is the index a production ingest keeps warm: arrivals
    join against it by fingerprint; the corpus itself is never
    re-read, and the index update is an append of the batch's new
    fingerprints — the same build-once-probe-many posture as the IVF
    index (similarity.py)."""
    if sf_dir in _FP_INDEX_DIRS:
        return _FP_INDEX_DIRS[sf_dir]
    import tempfile

    out = tempfile.mkdtemp(prefix="lapidus_fp_index_")
    docs = load_table(spark, sf_dir, "documents")
    (
        docs.filter(F.col("doc_id") % INCR_MOD != 0)
        .select(
            F.sha2(
                F.array_join(F.array_sort(F.array_distinct(F.split(F.lower("text"), " "))), " "),
                256,
            ).alias("fp"),
            "doc_id",
        )
        .groupBy("fp")
        .agg(F.min("doc_id").alias("canonical"))
        .repartition("fp")
        .sortWithinPartitions("fp")
        .write.mode("overwrite")
        .parquet(out)
    )
    _FP_INDEX_DIRS[sf_dir] = out
    return out


@query(
    "ext_dedup_incremental",
    oracle=f"""
    WITH corpus AS (
      SELECT sha256(array_to_string(list_sort(list_distinct(
               string_split(lower(text), ' '))), ' ')) AS fp,
             min(doc_id) AS canonical
      FROM documents WHERE doc_id % {INCR_MOD} <> 0
      GROUP BY 1
    ), arrivals AS (
      SELECT doc_id,
             sha256(array_to_string(list_sort(list_distinct(
               string_split(lower(text), ' '))), ' ')) AS fp
      FROM documents WHERE doc_id % {INCR_MOD} = 0
    )
    SELECT a.doc_id, a.fp,
           CASE WHEN c.fp IS NULL THEN 'new' ELSE 'dup' END AS status,
           c.canonical AS match_doc
    FROM arrivals a LEFT JOIN corpus c ON a.fp = c.fp
    """,
    operator="ext_dedup_incremental (arrivals vs persisted index)",
    doc="The production ingestion pattern the batch dedups can't "
    "model: a small arrival batch classified against the PERSISTED "
    "fingerprint index of the standing corpus (build_fingerprint_"
    "index — built once, probed per batch, appended after). Each "
    "arrival comes back 'dup' with its canonical corpus doc, or "
    "'new'. The corpus is never re-scanned: the join touches the "
    "index only, and with the index bucketed on fingerprint (or the "
    "arrival batch broadcast — it is the small side by construction) "
    "the per-batch cost is independent of corpus size. Fingerprint = "
    "sha256 of the sorted distinct token set: exact on bag-of-words "
    "identity, the cheapest content-defined near-dup key.",
)
def ext_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = spark.read.parquet(build_fingerprint_index(spark, sf_dir))
    arrivals = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % INCR_MOD == 0)
        .select(
            "doc_id",
            F.sha2(
                F.array_join(F.array_sort(F.array_distinct(F.split(F.lower("text"), " "))), " "),
                256,
            ).alias("fp"),
        )
    )
    return arrivals.join(idx, "fp", "left").select(
        "doc_id",
        "fp",
        F.when(F.col("canonical").isNull(), "new").otherwise("dup").alias("status"),
        F.col("canonical").alias("match_doc"),
    )


#: LSH-precision eval: exact shingle-Jaccard threshold (1/2, cross-
#: multiplied) every candidate pair is verified against.
EVAL_T_NUM, EVAL_T_DEN = 1, 2


@query(
    "ext_dedup_eval",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
    ), s AS (
      SELECT doc_id, list_distinct({_SH_DUCK}) AS sh FROM t
    ), cand AS (
      SELECT doc_a, doc_b FROM ({_MINHASH_PAIRS_ORACLE})
    ), scored AS (
      SELECT c.doc_a, c.doc_b,
             len(list_intersect(a.sh, b.sh)) AS i,
             len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS u
      FROM cand c
      JOIN s a ON a.doc_id = c.doc_a
      JOIN s b ON b.doc_id = c.doc_b
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cand,
           CAST(sum(CASE WHEN {EVAL_T_DEN} * i >= {EVAL_T_NUM} * u
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
           CAST((1000 * sum(CASE WHEN {EVAL_T_DEN} * i >= {EVAL_T_NUM} * u
                                 THEN 1 ELSE 0 END))
                // greatest(count(*), 1) AS BIGINT) AS precision_milli
    FROM scored
    """,
    operator="dedup-quality evaluation (exact-verified LSH candidate precision)",
    doc="Measure, don't guess: every MinHash-LSH candidate pair is "
    "verified against its EXACT distinct-shingle Jaccard (threshold "
    "1/2, cross-multiplied integers — no float ratio), and the "
    "operator reports candidate count, true-pair count, and exact "
    "integer-permille precision. This is the observability face of "
    "the candidate-then-verify dedup pipeline: candidates are few "
    "(the LSH bound), so exact verification is a sliver of corpus "
    "cost at any scale, and a drifting LSH operating point (band "
    "count vs corpus similarity profile) shows up as a precision "
    "drop in a dashboard instead of silent dedup quality decay.",
)
def ext_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", parallel=True)
    sh = (
        d.select("doc_id", F.expr("split(lower(text), ' ')").alias("toks"))
        .select("doc_id", F.expr(f"array_distinct({_SH_SPARK})").alias("sh"))
    )
    cand = ext_dedup_minhash(spark, sf_dir)
    scored = (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa")), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb")), "doc_b")
        .select(
            F.size(F.array_intersect("sa", "sb")).alias("i"),
            (
                F.size("sa") + F.size("sb") - F.size(F.array_intersect("sa", "sb"))
            ).alias("u"),
        )
    )
    is_true = (F.lit(EVAL_T_DEN) * F.col("i") >= F.lit(EVAL_T_NUM) * F.col("u")).cast(
        "bigint"
    )
    return scored.agg(
        F.count("*").alias("n_cand"),
        F.sum(is_true).alias("n_true"),
    ).select(
        "n_cand",
        "n_true",
        F.expr("CAST((1000 * n_true) div greatest(n_cand, 1) AS BIGINT)").alias(
            "precision_milli"
        ),
    )
