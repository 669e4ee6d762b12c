"""Seeded input generators for the benchmark.

Everything the program is fed is made here, from the benchmark's
``--seed`` alone, so a later change to the program's own corpus helpers
cannot change what the benchmark measures. The same seed gives the same
corpus, query stream and op order; every doc depends only on
``(seed, doc_id)``, so appended epochs extend the same corpus.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# source-code-like corpus (search_lifecycle)
# ---------------------------------------------------------------------------

_ROOTS = [
    "index", "query", "token", "merge", "block", "score", "parse", "fetch",
    "cache", "shard", "chunk", "batch", "frame", "field", "value", "count",
    "table", "store", "graph", "node", "stream", "vector", "filter", "window",
]
N_VOCAB = 20_000
ZIPF_A = 1.2
PHRASES = ["merge sorted posting lists", "block max wand pruning", "delta varint compression"]


def vocab(n: int = N_VOCAB) -> list[str]:
    """Identifier-style vocabulary; rank 0 is the hottest term."""
    k = len(_ROOTS)
    return [_ROOTS[i] if i < k else f"{_ROOTS[i % k]}{i // k}" for i in range(n)]


_VOCAB = vocab()


def corpus_doc(seed: int, doc_id: int, mean_log_tokens: float = 5.0) -> str:
    """Content of one doc: Zipf terms, 1-3 ``uniq_<id>_<j>`` terms, a
    planted phrase in ~5% of docs, eight words per line."""
    rng = np.random.default_rng([seed, doc_id])
    n_tok = int(np.clip(np.exp(rng.normal(mean_log_tokens, 0.7)), 30, 2000))
    ranks = (rng.zipf(ZIPF_A, size=n_tok) - 1) % N_VOCAB
    words = [_VOCAB[r] for r in ranks]
    for j in range(int(rng.integers(1, 4))):
        words[int(rng.integers(0, n_tok))] = f"uniq_{doc_id}_{j}"
    if rng.random() < 0.05:
        ph = PHRASES[doc_id % len(PHRASES)].split()
        pos = int(rng.integers(0, n_tok - len(ph)))
        words[pos : pos + len(ph)] = ph
    return "\n".join(" ".join(words[s : s + 8]) for s in range(0, n_tok, 8))


def gen_corpus(seed: int, start: int, n_docs: int) -> pd.DataFrame:
    """Docs ``start .. start+n_docs-1`` with the metadata columns the
    ``FullTextSearch`` facade filters and orders on."""
    ids = np.arange(start, start + n_docs, dtype=np.int64)
    meta = np.random.default_rng([seed, 1 << 40, start])
    return pd.DataFrame(
        {
            "doc_id": ids,
            "content": [corpus_doc(seed, int(i)) for i in ids],
            "title": [f"title {int(i)}" for i in ids],
            "all_authors": [f"author_{int(i) % 60}" for i in ids],
            "downloads": meta.integers(0, 5000, n_docs).astype(np.int64),
            "copyrighted": (meta.random(n_docs) < 0.3).astype(np.int32),
        }
    )


def write_parquet(pdf: pd.DataFrame, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
    return path


# ---------------------------------------------------------------------------
# search_lifecycle query stream
# ---------------------------------------------------------------------------

# One round of the closed loop: each class this many times, in a seeded
# order. Whole rounds only, so every run sees the same class mix.
CLASS_WEIGHTS = {
    "hot": 2,
    "and": 1,
    "or": 1,
    "not": 1,
    "phrase": 1,
    "rare": 1,
    "bm25_count": 1,
    "fuzzy": 1,
    "contains": 1,
    "execute": 1,
    "api_count": 1,
}


@dataclass(frozen=True)
class Query:
    cls: str
    text: str


def _typo(rng: random.Random, word: str) -> str:
    i = rng.randrange(1, len(word) - 1)
    if rng.random() < 0.5:
        return word[:i] + word[i + 1 :]
    return word[:i] + rng.choice("aeiou") + word[i + 1 :]


def _zipf_term(rng: random.Random, lo: int, hi: int) -> str:
    """A vocabulary term with rank in [lo, hi), weighted 1/rank like the corpus."""
    ranks = range(lo, hi)
    return _VOCAB[rng.choices(ranks, weights=[1.0 / (r + 1) for r in ranks])[0]]


def _phrase(rng: random.Random, content: str) -> str:
    toks = content.split()
    n = rng.choice((2, 3))
    p = rng.randrange(0, len(toks) - n)
    return '"' + " ".join(toks[p : p + n]) + '"'


def _fragment(rng: random.Random, content: str) -> str:
    """A 6-char substring of a doc that crosses at most one separator."""
    flat = content.replace("\n", " ")
    while True:
        p = rng.randrange(0, len(flat) - 6)
        frag = flat[p : p + 6]
        if frag.strip() == frag and frag.count(" ") <= 1:
            return frag


def query_stream(seed: int, docs: pd.DataFrame, rounds: int) -> list[Query]:
    """``rounds`` seeded rounds of ``CLASS_WEIGHTS``; terms follow the
    corpus's Zipf ranks, so hot terms repeat and the tail does not."""
    rng = random.Random(seed * 7919 + 17)
    contents = docs["content"].tolist()
    ids = docs["doc_id"].tolist()
    out: list[Query] = []
    for _ in range(rounds):
        classes = [c for c, w in CLASS_WEIGHTS.items() for _ in range(w)]
        rng.shuffle(classes)
        for c in classes:
            if c == "hot":
                text = _VOCAB[rng.randrange(0, 8)]
            elif c in ("and", "bm25_count", "execute", "api_count"):
                a, b = _zipf_term(rng, 0, 200), _zipf_term(rng, 0, 200)
                text = f"{a} {b}" if a != b else a
            elif c == "or":
                text = f"{_zipf_term(rng, 20, 400)} or {_zipf_term(rng, 20, 400)}"
            elif c == "not":
                text = f"{_zipf_term(rng, 0, 50)} -{_zipf_term(rng, 0, 50)}"
            elif c == "phrase":
                text = _phrase(rng, contents[rng.randrange(len(contents))])
            elif c == "rare":
                i = rng.randrange(len(ids))
                text = f"uniq_{ids[i]}_0"
            elif c == "fuzzy":
                text = _typo(rng, _zipf_term(rng, 24, 600))
            else:  # contains
                text = _fragment(rng, contents[rng.randrange(len(contents))])
            out.append(Query(c, text))
    return out


# ---------------------------------------------------------------------------
# pipeline_ops tables (the registry's testdata schema, generated here)
# ---------------------------------------------------------------------------

# One entry or two per registry operator module, chosen where ROADMAP has
# open work (temporal plane, contamination shingles, ann_cosine method,
# gopher rules); entry → module under operators/.
PIPELINE_ENTRIES = {
    "dedup_minhash_sigs": "dedup",
    "quality_gopher_rules": "textstats",
    "events_sessionize": "temporal",
    "events_asof_last_purchase": "temporal",
    "ann_cosine_top10": "similarity",
    "ann_ivf_top5": "ivf",
    "contam_ngram_hits": "contamination",
    "pack_token_shards": "etl",
}

_DOC_WORDS = [
    "the", "a", "and", "of", "key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "merge", "batch", "spark", "line",
    "sort", "window", "join", "column", "customer", "filter", "small", "order",
    "vector", "data", "stream", "group", "big", "query", "der", "und", "la",
    "les", "el", "como", "de", "shi",
] + [f"w{i}" for i in range(160)]


def op_order(seed: int, pass_no: int) -> list[str]:
    """Seeded order of the registry entries for one pass."""
    names = sorted(PIPELINE_ENTRIES)
    random.Random(seed * 104729 + pass_no).shuffle(names)
    return names


def gen_pipeline_tables(seed: int, out_dir: str, n_docs: int, n_events: int) -> dict[str, int]:
    """Write the documents / embeddings / events parquet files the
    entries read, in the registry's testdata schema; returns row counts."""
    rng = np.random.default_rng([seed, 7])
    rows: dict[str, int] = {}

    # documents: Zipf words, ~4% exact duplicates so dedup groups exist
    w = np.array(_DOC_WORDS)
    p = 1.0 / np.arange(1, len(w) + 1)
    p /= p.sum()
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.04:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(w, size=int(rng.integers(10, 90)), p=p)))
    langs = rng.choice(["en", "zh", "es", "de", "fr"], size=n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14])
    write_parquet(
        pd.DataFrame(
            {
                "doc_id": np.arange(n_docs, dtype=np.int64),
                "text": texts,
                "lang": langs,
                "source": [f"src{i % 20}" for i in range(n_docs)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )
    rows["documents"] = n_docs

    # embeddings: unit vectors around 10 label centroids
    cent = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_docs).astype(np.int32)
    vec = cent[labels] + rng.normal(scale=1.5, size=(n_docs, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    rows["embeddings"] = n_docs

    # events: one month, 150 users, 2-decimal values
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10**6
    ts = np.sort(t0 + rng.integers(0, span_us, n_events).astype("timedelta64[us]"))
    write_parquet(
        pd.DataFrame(
            {
                "event_id": np.arange(n_events, dtype=np.int64),
                "ts": ts,
                "user_id": rng.integers(0, 150, n_events).astype(np.int64),
                "event_type": rng.choice(["signup", "error", "click", "view", "purchase"], n_events),
                "value": np.round(rng.exponential(50.0, n_events) + 0.01, 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
            }
        ),
        os.path.join(out_dir, "events.parquet"),
    )
    rows["events"] = n_events

    return rows
