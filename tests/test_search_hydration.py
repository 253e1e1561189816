"""Hydration invariants of ``VectorDB.search`` for every strategy.

Whether a form hydrates inside its ranking scan (cosine, auto and a
filtered nsw over the generation, sign and pq over the covering sign
layout, sq8's rerank over its point read) or by one join of its
winners (ivf, the nsw traversal, hybrid, mmr), every hit carries the
content its id has in the SERVED generation — live or pinned — rows
come in (score desc, id asc) order, at most k of them, under one fixed
result schema; cosine and auto equal a numpy exact top-k."""

from __future__ import annotations

import uuid

import numpy as np
import pytest

from local_vectordb_spark.api import INDEX_TYPES, VectorDB
from local_vectordb_spark.sources.json_records import SCHEMAS

SCHEMA = "struct<id:string,score:double,content:string>"
N = 40


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """A store with two retained generations that disagree on one
    id's content: ``pinned`` is the seed write, the live head edits
    c05's content (re-embedding it) and adds c99."""
    d = VectorDB(
        spark, str(tmp_path_factory.mktemp("hydration_db")), keep_versions=3
    )
    lib, doc = str(uuid.uuid4()), str(uuid.uuid4())
    d.add("libraries", spark.createDataFrame(
        [(lib, {}, None, None, "l")], SCHEMAS["libraries"]))
    d.add("documents", spark.createDataFrame(
        [(doc, {}, None, None, "d", lib)], SCHEMAS["documents"]))
    d.add("chunks", spark.createDataFrame(
        [(f"c{i:02d}", {"label": "ab"[i % 2]}, None, None,
          f"hydration row {i} about topic {i % 5}", None, doc)
         for i in range(N)],
        SCHEMAS["chunks"]))
    pinned = d._current_version("chunks")
    d.update("chunks", spark.createDataFrame(
        [("c05", {"label": "b"}, None, None,
          "hydration row 5 rewritten about topic 2", None, None)],
        SCHEMAS["chunks"]))
    d.add("chunks", spark.createDataFrame(
        [("c99", {"label": "b"}, None, None,
          "hydration row 99 about topic 4", None, doc)],
        SCHEMAS["chunks"]))
    gens = {}
    for v in (pinned, None):
        rows = d.table("chunks", version=v).collect()
        gens[v] = {r.id: r for r in rows}
    assert gens[pinned]["c05"].content != gens[None]["c05"].content
    return d, pinned, gens


def _exact_topk(rows, qv, k):
    """numpy exact cosine top-k: [(id, score)] in (score desc, id asc)
    order, scores rounded like every search surface."""
    q = np.asarray(qv, dtype=np.float64)
    q = q / np.linalg.norm(q)
    scored = []
    for r in rows:
        e = np.asarray(r.embedding, dtype=np.float64)
        n = np.linalg.norm(e)
        scored.append((r.id, round(float(e @ q / n) if n else 0.0, 6)))
    return sorted(scored, key=lambda t: (-t[1], t[0]))[:k]


@pytest.mark.parametrize("index_type", INDEX_TYPES)
def test_every_hit_carries_its_served_content(store, index_type):
    d, pinned, gens = store
    qv = [float(x) for x in gens[None]["c05"].embedding]
    text = gens[None]["c05"].content
    for version in (None, pinned):
        rows = gens[version]
        for label in (None, "b"):
            metadata = None if label is None else {"label": label}
            for k in (3, 50):
                df = d.search(
                    text, index_type=index_type, k=k, metadata=metadata,
                    query_vec=qv, version=version,
                )
                assert df.schema.simpleString() == SCHEMA
                hits = df.collect()
                where = (index_type, version, label, k)
                # the live generation holds qv's own row, in label b
                assert len(hits) <= k and (hits or version is not None), where
                assert len({h.id for h in hits}) == len(hits), where
                for h in hits:
                    assert h.content == rows[h.id].content, where
                    if label is not None:
                        assert rows[h.id].metadata["label"] == label, where
                keys = [(-h.score, h.id) for h in hits]
                assert keys == sorted(keys), where
                if index_type in ("cosine", "auto"):
                    cand = [r for r in rows.values()
                            if label is None or r.metadata["label"] == label]
                    want = _exact_topk(cand, qv, k)
                    assert [h.id for h in hits] == [i for i, _ in want], where
                    assert [h.score for h in hits] == pytest.approx(
                        [s for _, s in want], abs=1e-6), where


def test_mmr_hits_carry_their_served_content(store):
    d, pinned, gens = store
    qv = [float(x) for x in gens[None]["c05"].embedding]
    for version in (None, pinned):
        for index_type in ("cosine", "sign"):
            df = d.search(query_vec=qv, index_type=index_type, k=4,
                          diversify="mmr", version=version)
            assert df.schema.simpleString() == SCHEMA
            hits = df.collect()
            assert 0 < len(hits) <= 4
            for h in hits:
                assert h.content == gens[version][h.id].content


def test_emptied_store_answers_every_strategy_with_no_rows(spark, tmp_path):
    d = VectorDB(spark, str(tmp_path))
    lib, doc = str(uuid.uuid4()), str(uuid.uuid4())
    d.add("libraries", spark.createDataFrame(
        [(lib, {}, None, None, "l")], SCHEMAS["libraries"]))
    d.add("documents", spark.createDataFrame(
        [(doc, {}, None, None, "d", lib)], SCHEMAS["documents"]))
    d.add("chunks", spark.createDataFrame(
        [(f"e{i}", {"label": "a"}, None, None, f"gone row {i}", None, doc)
         for i in range(2)],
        SCHEMAS["chunks"]))
    d.delete("chunks", spark.createDataFrame([("e0",), ("e1",)], "id string"))
    for index_type in INDEX_TYPES:
        for metadata in (None, {"label": "a"}):
            df = d.search("gone row 1", index_type=index_type, k=3,
                          metadata=metadata)
            assert df.schema.simpleString() == SCHEMA
            assert df.collect() == [], (index_type, metadata)
