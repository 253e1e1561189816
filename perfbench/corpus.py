"""Seeded inputs for the benchmark workloads.

Everything here is pure numpy/pyarrow: the same seed yields the same
corpus and the same operation sequence, byte for byte, on any commit,
and the program under test only ever sees the generated data.

The corpora mirror the shape of the sf0.1 fixture tables the repository
tests against (TESTDATA.md / FIXTURES.md): keyword-soup documents over a
30-word vocabulary, 10-100 words long, five languages and twenty
sources; 64-dimensional unit-norm embeddings carrying a 0-9 cluster
label.
"""

from __future__ import annotations

import hashlib
import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
N_LABELS = 10
DIM = 64

# serve_read store: the sf0.1 embeddings table staged as chunks
SERVE_CHUNKS = 2_000
# serve_read operation mix: each cycle holds every (strategy, k) pair
# once, FILTERED_PER_CYCLE of them with a label filter. Which pairs are
# filtered depends on the cycle's index, not on the seed: what a filter
# adds to a search depends on the strategy, so a seed-drawn choice would
# change a cycle's work from seed to seed. k=10 is left out:
# its plans match k=5's (sq8 reranks 80 against 64 candidates, pq
# rescores 50 for both), and a 15-request cycle does not fit a run.
STRATEGIES = ("cosine", "auto", "sign", "sq8", "pq")
KS = (5, 50)
CYCLE = len(STRATEGIES) * len(KS)
FILTERED_PER_CYCLE = 3

# curate corpus: make_scale_corpus's replica recipe (replica 0 verbatim,
# replica r prefixed "r{r} ") over a seeded base set
CURATE_BASE_DOCS = 400
CURATE_REPLICAS = 4
REPLICA_ID_OFFSET = 10_000_000


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent, named random streams per seed, so adding a stream
    never shifts the values another one draws."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lengths = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    out, at = [], 0
    for ln in lengths:
        out.append(" ".join(VOCAB[w] for w in words[at:at + ln]))
        at += ln
    return out


def serve_corpus(seed: int, n: int = SERVE_CHUNKS) -> dict:
    """Chunk corpus for the HTTP workloads: string ids "0".."n-1",
    keyword-soup content, float32 unit embeddings with a weak per-label
    cluster structure, and the label as chunk metadata."""
    rng = _rng(seed, "serve_corpus")
    labels = rng.integers(0, N_LABELS, size=n)
    centers = rng.standard_normal((N_LABELS, DIM))
    emb = rng.standard_normal((n, DIM)) + 0.5 * centers[labels]
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    return {
        "ids": [str(i) for i in range(n)],
        "content": _texts(rng, n),
        "emb": emb.astype(np.float32),
        "label": labels.astype(np.int64),
    }


def read_ops(seed: int, corpus: dict, n: int) -> list[dict]:
    """The serve_read request sequence, in cycles of CYCLE requests.
    Every cycle holds each (strategy, k) pair once, in shuffled order,
    and label-filters FILTERED_PER_CYCLE of them, chosen by the cycle's
    index, so cycle c has the same mix under every seed. The seed picks
    the order, the query texts (corpus chunks' content) and the
    filters' labels."""
    rng = _rng(seed, "read_ops")
    pairs = [(s, k) for s in STRATEGIES for k in KS]
    ops = []
    while len(ops) < n:
        c = len(ops) // CYCLE
        filtered = {(FILTERED_PER_CYCLE * c + j) % CYCLE for j in range(FILTERED_PER_CYCLE)}
        for j in rng.permutation(CYCLE).tolist():
            ops.append({
                "index_type": pairs[j][0],
                "text_of": int(rng.integers(0, len(corpus["ids"]))),
                "limit": pairs[j][1],
                "label": str(int(rng.integers(0, N_LABELS))) if j in filtered else None,
            })
    return ops[:n]


def curate_documents(
    seed: int, base: int = CURATE_BASE_DOCS, replicas: int = CURATE_REPLICAS
) -> pa.Table:
    """documents table for the curation workload: ``base`` seeded
    documents, each replicated ``replicas`` times as a near-duplicate
    family (make_scale_corpus.py's recipe), ids offset per replica."""
    rng = _rng(seed, "curate_documents")
    texts = _texts(rng, base)
    langs = rng.choice(len(LANGS), size=base, p=LANG_P)
    doc_id, text, lang, source = [], [], [], []
    for r in range(replicas):
        for i, t in enumerate(texts):
            doc_id.append(i + r * REPLICA_ID_OFFSET)
            text.append(t if r == 0 else f"r{r} {t}")
            lang.append(LANGS[langs[i]])
            source.append(f"src{i % N_SOURCES}")
    return pa.table({
        "doc_id": pa.array(doc_id, pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array(source, pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def chunks_table(corpus: dict) -> pa.Table:
    """The serve corpus in the chunks schema's column order (timestamps
    left null: the write path stamps them)."""
    n = len(corpus["ids"])
    return pa.table({
        "id": pa.array(corpus["ids"], pa.string()),
        "metadata": pa.array(
            [[("label", str(int(x)))] for x in corpus["label"]],
            pa.map_(pa.string(), pa.string()),
        ),
        "created_at": pa.nulls(n, pa.timestamp("us", tz="UTC")),
        "updated_at": pa.nulls(n, pa.timestamp("us", tz="UTC")),
        "content": pa.array(corpus["content"], pa.string()),
        "embedding": pa.array(list(corpus["emb"]), pa.list_(pa.float32())),
        "document_id": pa.array(["d0"] * n, pa.string()),
    })


def ops_bytes(ops: list[dict]) -> bytes:
    return json.dumps(ops, sort_keys=True, separators=(",", ":")).encode()
