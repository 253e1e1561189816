"""Independent answers the benchmark checks the program against.

Search answers are recomputed with numpy from the staged vectors
(the program's scoring contract: cosine in double precision, rounded to
6 decimals, ties by id ascending). The query embedding mirrors the
default hashed embedder (sha256-seeded normal draw, unit norm).
Curation steps are checked against their registry DuckDB oracles.
"""

from __future__ import annotations

import hashlib
import math
import re

import numpy as np

SCORE_TOL = 1e-6
EXACT = ("cosine", "auto")
# Floors on a run's mean recall@k per approximate strategy, against the
# exact top-k. Measured over 90 queries at the parent commit: per-query
# minimum sign 0.0, sq8 0.2, pq 0.0; means 0.52, 0.50, 0.31. A run has
# only a few queries per strategy, so the floors sit below the worst
# observed pair means and only catch a broken index (random answers score
# about k/n). pq's untrained codebook has no usable floor. The per-answer
# checks (true scores, order, filter, content) carry the weight.
RECALL_MEAN_FLOOR = {"sign": 0.05, "sq8": 0.05, "pq": 0.0}


def hashed_embedding(text: str, dim: int = 64, seed: int = 42) -> np.ndarray:
    digest = hashlib.sha256(f"{seed}:{text}".encode()).digest()
    v = np.random.default_rng(int.from_bytes(digest[:8], "little")).standard_normal(dim)
    n = np.linalg.norm(v)
    return v / n if n else v


def _unit(v: np.ndarray) -> np.ndarray:
    n = math.sqrt(sum(float(x) * float(x) for x in v))
    return v / n if n else np.zeros_like(v)


def _tokens(text: str) -> list[str]:
    return [t for t in re.split(r"\s+", re.sub(r"\s+", " ", text.lower()).strip()) if t]


class SearchOracle:
    """Exact answers over the live chunk set of a serve store."""

    def __init__(self, ids, content, emb, label):
        self.ids = list(ids)
        self.content = list(content)
        e = np.asarray(emb, dtype=np.float32).astype(np.float64)
        norms = np.sqrt((e * e).sum(axis=1))
        self.unit = np.divide(e, norms[:, None], out=np.zeros_like(e), where=norms[:, None] > 0)
        self.label = [str(x) for x in label]
        self.pos = {i: p for p, i in enumerate(self.ids)}

    def _rows(self, label: str | None) -> np.ndarray:
        if label is None:
            return np.arange(len(self.ids))
        return np.array([p for p, lb in enumerate(self.label) if lb == label], dtype=np.int64)

    def cosine_scores(self, text: str) -> np.ndarray:
        q = _unit(hashed_embedding(text))
        return np.round(self.unit @ q, 6)

    def exact(self, text: str, k: int, label: str | None) -> dict[str, float]:
        """Expected top-k of the exact strategies: id -> score, ranked."""
        rows = self._rows(label)
        s = self.cosine_scores(text)
        top = sorted(rows, key=lambda p: (-s[p], self.ids[p]))[:k]
        return {self.ids[p]: float(s[p]) for p in top}

    def check(self, op: dict, text: str, results: list[dict]) -> tuple[bool, float | None, str]:
        """(ok, recall or None, reason) for one /query answer."""
        strategy, k, label = op["index_type"], op["limit"], op["label"]
        ids = [r["id"] for r in results]
        if len(set(ids)) != len(ids):
            return False, None, "duplicate ids"
        for r in results:
            p = self.pos.get(r["id"])
            if p is None or r["content"] != self.content[p]:
                return False, None, f"unknown id or wrong content for {r['id']}"
            if label is not None and self.label[p] != label:
                return False, None, f"id {r['id']} violates the label filter"
        expected = self.exact(text, k, label)
        s = self.cosine_scores(text)
        scores = {i: float(s[p]) for i, p in self.pos.items()}
        got = [float(r["confidence"]) for r in results]
        if any(b > a + SCORE_TOL for a, b in zip(got, got[1:])):
            return False, None, "scores not in descending order"
        for i, g in zip(ids, got):
            if i not in scores or abs(scores[i] - g) > SCORE_TOL:
                return False, None, f"score of {i} is {g}, expected {scores.get(i)}"
        if strategy in EXACT:
            want = list(expected.values())
            if len(got) != len(want) or any(abs(a - b) > SCORE_TOL for a, b in zip(got, want)):
                return False, None, "not the exact top-k"
            return True, None, ""
        if len(ids) > k:
            return False, None, "more than k results"
        return True, len(set(ids) & set(expected)) / max(1, len(expected)), ""


# --------------------------------------------------------------- curation

def _normalize(df):
    """Order-insensitive comparable form of a result frame (sorted
    columns, floats to 9 decimals, rows sorted)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif df[c].dtype.kind == "f":
            df[c] = df[c].round(9)
        elif df[c].dtype.kind in "iu":
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def frames_match(spark_pdf, oracle_pdf) -> tuple[bool, str]:
    s, o = _normalize(spark_pdf), _normalize(oracle_pdf)
    if list(s.columns) != list(o.columns):
        return False, f"columns {list(s.columns)} vs {list(o.columns)}"
    if len(s) != len(o):
        return False, f"rows {len(s)} vs {len(o)}"
    if not s.equals(o):
        return False, "values differ"
    return True, ""


def shingles(text: str, n: int = 3) -> set[str]:
    t = _tokens(text)
    return {" ".join(t[i:i + n]) for i in range(max(len(t) - n, 0) + 1)}


def minhash_pairs_ok(pairs_pdf, docs: dict[int, str], threshold: float = 0.5,
                     slack: float = 0.3, sure: float = 0.97) -> tuple[bool, str]:
    """Invariants of the (rows-only) MinHash step: every reported pair
    is ordered, meets the threshold, and estimates its true shingle
    Jaccard within ``slack``; every pair whose true Jaccard is at least
    ``sure`` is reported. With the step's 8 bands of 4 hashes a pair of
    Jaccard J shares no band with probability (1 - J^4)^8: 2e-4 at
    J=0.9, which a run's ~2,000 such pairs would hit about every third
    run, but 3e-8 at J=0.97."""
    sh = {i: shingles(t) for i, t in docs.items()}
    got = set()
    for a, b, est in pairs_pdf[["a_id", "b_id", "est_jaccard"]].itertuples(index=False):
        a, b = int(a), int(b)
        if a not in sh or b not in sh:
            return False, f"pair ({a}, {b}) names an unknown document"
        if a >= b or est < threshold:
            return False, f"pair ({a}, {b}, {est}) malformed"
        j = len(sh[a] & sh[b]) / max(1, len(sh[a] | sh[b]))
        if abs(j - est) > slack:
            return False, f"pair ({a}, {b}) estimate {est} vs exact {j:.3f}"
        got.add((a, b))
    by_shingle: dict[str, list[int]] = {}
    for i, s in sh.items():
        for x in s:
            by_shingle.setdefault(x, []).append(i)
    cand = set()
    for members in by_shingle.values():
        if len(members) <= 64:
            members = sorted(members)
            cand.update((a, b) for x, a in enumerate(members) for b in members[x + 1:])
    for a, b in cand:
        j = len(sh[a] & sh[b]) / max(1, len(sh[a] | sh[b]))
        if j >= sure and (a, b) not in got:
            return False, f"missed pair ({a}, {b}) with exact Jaccard {j:.3f}"
    return True, ""
