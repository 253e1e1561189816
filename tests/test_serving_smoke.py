"""Fast HTTP smoke test of ``POST /query`` over a small written store.

Every answer the HTTP layer serves must equal the facade's own
``VectorDB.search``; query text is embedded on the driver without a
Spark job; a Column embedder still takes the job path; an embedder
failure answers 500. The full HTTP e2e suite is test_serving.py."""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import threading
import urllib.error
import urllib.request
import uuid

import pytest
from pyspark.sql import functions as F

from local_vectordb_spark.api import INDEX_TYPES, VectorDB
from local_vectordb_spark.functions import embedding as E
from local_vectordb_spark.serving import make_server
from local_vectordb_spark.session import local_rows_df
from local_vectordb_spark.sources.json_records import SCHEMAS

TEXTS = [
    f"note {i} on topic {i % 7}: words {i * 13 % 97} and {i * 29 % 89}"
    for i in range(50)
]


@pytest.fixture(scope="module")
def db(spark, tmp_path_factory):
    d = VectorDB(spark, str(tmp_path_factory.mktemp("smoke_db")))
    lib, doc = str(uuid.uuid4()), str(uuid.uuid4())
    d.add("libraries", spark.createDataFrame(
        [(lib, {}, None, None, "l")], SCHEMAS["libraries"]))
    d.add("documents", spark.createDataFrame(
        [(doc, {}, None, None, "d", lib)], SCHEMAS["documents"]))
    d.add("chunks", spark.createDataFrame(
        [(f"c{i:02d}", {"label": "ab"[i % 2]}, None, None, t, None, doc)
         for i, t in enumerate(TEXTS)],
        SCHEMAS["chunks"]))
    return d


@contextlib.contextmanager
def _serving(db):
    srv = make_server(db)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        yield f"http://127.0.0.1:{srv.server_address[1]}"
    finally:
        srv.shutdown()
        srv.server_close()


def _query(base, body):
    req = urllib.request.Request(
        base + "/query", data=json.dumps(body).encode(), method="POST",
        headers={"Content-Type": "application/json"},
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return its job count and
    the call sites (stage names) of those jobs."""
    sc = spark.sparkContext
    group = f"smoke-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    ids = tracker.getJobIdsForGroup(group)
    sites = [
        tracker.getStageInfo(s).name
        for j in ids
        for s in tracker.getJobInfo(j).stageIds
    ]
    return len(ids), sites


def _embed_sites(sites):
    """Call sites that point into ``VectorDB._embed_texts``."""
    lines, start = inspect.getsourcelines(VectorDB._embed_texts)
    api = inspect.getsourcefile(VectorDB)
    inside = {f"{api}:{n}" for n in range(start, start + len(lines))}
    return [s for s in sites if s.split(" at ", 1)[-1] in inside]


@pytest.mark.parametrize("index_type", INDEX_TYPES)
def test_query_route_matches_facade_search(db, index_type):
    with _serving(db) as base:
        code, body = _query(
            base, {"text": TEXTS[7], "index_type": index_type, "limit": 5}
        )
    assert code == 200
    want = db.search(TEXTS[7], index_type=index_type, k=5).collect()
    assert body["results"] == [
        {"id": r.id, "confidence": r.score, "content": r.content} for r in want
    ]
    assert body["results"][0]["content"] == TEXTS[7]


def test_warm_search_runs_no_embedding_job(spark, db):
    """A warm cosine search runs 4 Spark jobs, none of them at the
    query-embedding call site. The Column-embedder fallback (md5 over
    the same store) is the fifth job this saves, and it does return
    the same hits as searching with that embedder's vector directly."""
    search = functools.partial(db.search, TEXTS[3], index_type="cosine", k=5)
    search().collect()  # warm: artifact reads, plan compile
    n, sites = _jobs(spark, lambda: search().collect())
    assert n == 4
    assert _embed_sites(sites) == []

    md5_64 = functools.partial(E.md5_embedding, dim=64)
    col_db = VectorDB(spark, db.root, embedder=md5_64)
    qv = [
        float(x)
        for x in local_rows_df(spark, [(TEXTS[3],)], "t string")
        .select(md5_64(F.col("t")).alias("v"))
        .first()
        .v
    ]
    assert col_db._embed_texts([TEXTS[3]]) == [qv]
    col_search = functools.partial(
        col_db.search, TEXTS[3], index_type="cosine", k=5
    )
    got = col_search().collect()
    assert got == col_db.search(query_vec=qv, index_type="cosine", k=5).collect()
    n, sites = _jobs(spark, lambda: col_search().collect())
    assert n == 5
    assert len(_embed_sites(sites)) >= 1


def _gives_up(chunk):
    raise E.TransientEmbeddingError(503, "embedding service unavailable")


def _malformed(chunk):
    return {}["embeddings"]  # a response without the expected field


@pytest.mark.parametrize("transport", [_gives_up, _malformed],
                         ids=["retries-exhausted", "malformed-response"])
def test_query_embedder_failure_answers_500(spark, db, transport):
    failing = VectorDB(
        spark, db.root,
        embedder=E.api_embedding_udf(
            transport=transport, max_retries=0, backoff_base_s=0.0
        ),
    )
    with _serving(failing) as base:
        code, body = _query(base, {"text": "anything", "index_type": "cosine"})
    assert code == 500
    assert "EmbeddingClientError" in body["detail"]
