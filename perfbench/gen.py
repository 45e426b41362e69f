"""Seeded input generators.

Every generator draws from a ``numpy.random.Generator`` built from the
run's ``--seed``, so one seed always yields the same inputs. The
library under test only ever sees the parquet files written here.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: ``normalize_events`` maps signup → insert, error → delete and every
#: other type → update.
EVENT_TYPES = np.array(["signup", "click", "view", "purchase", "error"], dtype=object)
EVENT_TYPE_P = [0.15, 0.30, 0.25, 0.20, 0.10]
#: share of each batch that re-sends an already delivered event
#: (at-least-once capture).
REDELIVERY_P = 0.02
#: consecutive events share one ``ts`` stamp, so the LWW order has to
#: break ties on ``event_seq``.
TIE_WIDTH = 4
TS0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
PROPS = np.array([f'{{"k": {k}}}' for k in range(1000)], dtype=object)

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def publish(table: pa.Table, path: str) -> None:
    """Write under a name the file source ignores, then rename into
    place: a stream never lists a half-written file."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f"_tmp_{name}")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


class EventStream:
    """A continuing CDC change stream in the ``events`` fixture schema.

    Keys follow a bounded Zipf law (exponent ``zipf_s``) over
    ``n_keys`` ids; a seeded permutation scatters the hot ranks over
    the id space so they do not share one lake bucket. ``event_id``
    and ``ts`` grow monotonically across batches."""

    def __init__(self, rng: np.random.Generator, n_keys: int, zipf_s: float = 0.99):
        w = np.arange(1, n_keys + 1, dtype=np.float64) ** -zipf_s
        self._cdf = np.cumsum(w) / w.sum()
        self._ids = rng.permutation(n_keys).astype(np.int64)
        self._rng = rng
        self._seq = 0
        self._last: pa.Table | None = None

    def hot_keys(self, k: int) -> list[int]:
        return [int(x) for x in self._ids[:k]]

    def cold_keys(self, k: int) -> list[int]:
        return [int(x) for x in self._ids[-k:]]

    def batch(self, n: int) -> pa.Table:
        rng = self._rng
        n_dup = int(n * REDELIVERY_P) if self._last is not None else 0
        n_new = n - n_dup
        seq = np.arange(self._seq, self._seq + n_new, dtype=np.int64)
        self._seq += n_new
        ranks = np.minimum(np.searchsorted(self._cdf, rng.random(n_new)), len(self._ids) - 1)
        new = pa.table(
            {
                "event_id": seq,
                "ts": pa.array(TS0_US + (seq // TIE_WIDTH) * 1000, pa.timestamp("us", tz="UTC")),
                "user_id": self._ids[ranks],
                "event_type": EVENT_TYPES[rng.choice(len(EVENT_TYPES), n_new, p=EVENT_TYPE_P)],
                "value": np.round(rng.random(n_new) * 100, 2),
                "props": PROPS[rng.integers(0, len(PROPS), n_new)],
            },
            schema=EVENTS_SCHEMA,
        )
        out = new
        if n_dup:
            redelivered = self._last.take(rng.integers(0, self._last.num_rows, n_dup))
            out = pa.concat_tables([new, redelivered])
        self._last = new
        return out


# ------------------------------------------------------------ corpus

VOCAB = (
    "the a key agg row scan slow fast table value part hash merge batch "
    "spark window line sort data column join small customer query order "
    "group filter big stream vector lake commit bucket index shard token "
    "model train eval split corpus clean dedup embed cluster label score"
).split()
LANGS = np.array(["en", "de", "fr"], dtype=object)

DOCS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)
EMB_SCHEMA = pa.schema(
    [
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]
)
EMB_DIM = 64
#: ``ext_decontaminate`` treats doc_id % 25 == 0 as the benchmark set.
BENCH_MOD = 25


def write_corpus(rng: np.random.Generator, n_docs: int, out_dir: str) -> None:
    """``documents`` and ``embeddings`` tables in the fixture schema,
    with injected duplicates for every dedup stage: exact copies that
    differ only in case and padding, near copies with one token
    changed, semantic copies (a perturbed earlier embedding) and
    contaminated docs that quote a span of a benchmark doc."""
    texts: list[str] = []
    embs = rng.normal(0.0, 0.125, (n_docs, EMB_DIM)).astype(np.float32)
    vocab = np.array(VOCAB, dtype=object)
    p = np.full(len(VOCAB), 0.97 / (len(VOCAB) - 1))
    p[0] = 0.03  # "the" drives ext_quality_logit's stopword evidence
    # copies are made of originals only, so every duplicate component is
    # a star: label propagation then takes the same few rounds on every
    # seed instead of one round per link of a copy-of-a-copy chain
    originals: list[int] = []
    for i in range(n_docs):
        u = rng.random()
        if i > 10 and u < 0.06:
            src = texts[originals[rng.integers(0, len(originals))]]
            texts.append(f"  {src.upper()} " if rng.random() < 0.5 else src + " ")
        elif i > 10 and u < 0.12:
            toks = texts[originals[rng.integers(0, len(originals))]].split()
            toks[rng.integers(0, len(toks))] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(toks))
        elif i > BENCH_MOD and u < 0.16:
            bench = texts[BENCH_MOD * rng.integers(0, i // BENCH_MOD)].split()
            own = list(vocab[rng.choice(len(vocab), int(rng.integers(20, 60)), p=p)])
            at = int(rng.integers(0, max(1, len(bench) - 6)))
            texts.append(" ".join(own + bench[at : at + 6]))
        else:
            originals.append(i)
            texts.append(" ".join(vocab[rng.choice(len(vocab), int(rng.integers(20, 80)), p=p)]))
        if i > 10 and rng.random() < 0.05:
            j = rng.integers(0, i)
            embs[i] = embs[j] + rng.normal(0.0, 0.03, EMB_DIM).astype(np.float32)
    os.makedirs(out_dir, exist_ok=True)
    ids = np.arange(n_docs, dtype=np.int64)
    docs = pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": LANGS[rng.choice(3, n_docs, p=[0.9, 0.05, 0.05])],
            "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
        schema=DOCS_SCHEMA,
    )
    emb = pa.table(
        {
            "vec_id": ids,
            "embedding": pa.array(list(embs), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_docs).astype(np.int32),
        },
        schema=EMB_SCHEMA,
    )
    publish(docs, os.path.join(out_dir, "documents.parquet"))
    publish(emb, os.path.join(out_dir, "embeddings.parquet"))
