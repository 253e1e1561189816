"""Fast HTTP smoke test of ``POST /query`` over a small written store.

Every answer the HTTP layer serves must equal the facade's own
``VectorDB.search``; query text is embedded on the driver without a
Spark job; a Column embedder still takes the job path; an embedder
failure answers 500; a warm search runs the pinned number of jobs; a
``limit`` that is not a non-negative JSON integer answers 400. The
full HTTP e2e suite is test_serving.py."""

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
    """A warm cosine search is ONE Spark job — the ranking scan, which
    carries the winners' content — and no job sits at the
    query-embedding call site. The Column-embedder fallback (md5 over
    the same store) adds the one embedding job this saves, and it does
    return the same hits as searching with that embedder's vector
    directly."""
    search = functools.partial(db.search, TEXTS[3], index_type="cosine", k=5)
    search().collect()  # warm: artifact reads, plan compile
    n, sites = _jobs(spark, lambda: search().collect())
    assert n == 1
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
    assert n == 2
    assert len(_embed_sites(sites)) >= 1


# the ceiling: warm jobs per search when every form hydrated through a
# broadcast join and a range-partitioned sort (a sampling job plus a
# shuffle)
JOBS_BEFORE = {"cosine": 4, "auto": 4, "sign": 5, "sq8": 5, "pq": 4}
# the forms whose ranked rows carry content (the generation for cosine
# and auto, the covering sign layout for sign and pq) hydrate in that
# one ranking job; sq8 collects its candidates, then reranks
JOBS_NOW = {"cosine": 1, "auto": 1, "sign": 1, "sq8": 2, "pq": 1}


@pytest.mark.parametrize("index_type", sorted(JOBS_NOW))
def test_warm_search_job_count_per_strategy(spark, db, index_type):
    search = functools.partial(
        db.search, TEXTS[11], index_type=index_type, k=5
    )
    want = search().collect()  # warm: artifact builds, plan compile
    got = []
    n, _ = _jobs(spark, lambda: got.extend(search().collect()))
    assert got == want and got[0].content == TEXTS[11]
    assert n == JOBS_NOW[index_type] < JOBS_BEFORE[index_type]


def test_filtered_sq8_reranks_the_probe_without_a_second_filter(spark, db):
    """The sq8 candidates already satisfy the metadata filter (the
    layout probe reads each row's own metadata), so the rerank reads
    only the point read: the filtered search returns the exact top-k of
    the filtered approx candidates, and it runs as many jobs as an
    unfiltered one, because the filter is a predicate on the probed
    layout rows, not a join that needs its own job."""
    from local_vectordb_spark.api import SQ8_RERANK_DEPTH
    from local_vectordb_spark.operators import knn

    qv = [float(x) for x in db.table("chunks").filter(F.col("id") == "c04")
          .first().embedding]
    k, label = 5, {"label": "a"}
    v = db._current_version("chunks")
    cand = db._sq8_approx(
        qv, db._chunks_for_search(label), label, v,
        max(8 * k, SQ8_RERANK_DEPTH),
    ).select("id")
    want = knn.knn_brute_force(
        db.table("chunks").join(cand, "id", "leftsemi"), qv, k=k,
        id_col="id", extra_cols=("content",),
    ).collect()
    search = functools.partial(
        db.search, query_vec=qv, index_type="sq8", k=k, metadata=label
    )
    assert search().collect() == want
    assert all(int(r.id[1:]) % 2 == 0 for r in want)
    n_filtered, _ = _jobs(spark, lambda: search().collect())
    db.search(query_vec=qv, index_type="sq8", k=k).collect()
    n_plain, _ = _jobs(
        spark, lambda: db.search(query_vec=qv, index_type="sq8", k=k).collect()
    )
    assert n_filtered == n_plain


@pytest.mark.parametrize("index_type", ["cosine", "sign", "sq8", "pq", "auto"])
def test_query_negative_limit_answers_400(db, index_type):
    with _serving(db) as base:
        code, body = _query(
            base, {"text": TEXTS[1], "index_type": index_type, "limit": -1}
        )
    assert code == 400
    assert "k must be >= 0" in body["detail"]


@pytest.mark.parametrize("field, value", [
    ("limit", True), ("limit", 2.7), ("limit", "5"),
    ("beam", True), ("beam", 2.7), ("hops", "1"),
])
def test_query_non_integer_count_answers_400(db, field, value):
    """A count that is not a JSON integer is refused, never read as
    ``int(value)`` (true -> 1, 2.7 -> 2)."""
    with _serving(db) as base:
        code, body = _query(
            base, {"text": TEXTS[1], "index_type": "nsw", field: value}
        )
    assert code == 400
    assert f"{field} must be an integer" in body["detail"]


def test_query_limit_zero_serves_no_rows(db):
    with _serving(db) as base:
        code, body = _query(
            base, {"text": TEXTS[1], "index_type": "cosine", "limit": 0}
        )
    assert code == 200 and body["results"] == []


def test_negative_k_refused_before_any_embedding(spark, db):
    """search and search_batch refuse k < 0 as a ValueError before the
    query text reaches the embedder (whose failure would otherwise be
    the error raised)."""
    failing = VectorDB(
        spark, db.root,
        embedder=E.api_embedding_udf(
            transport=_gives_up, max_retries=0, backoff_base_s=0.0
        ),
    )
    with pytest.raises(ValueError, match="k must be >= 0"):
        failing.search("anything", index_type="cosine", k=-1)
    with pytest.raises(ValueError, match="k must be >= 0"):
        failing.search_batch([(0, "anything")], index_type="cosine", k=-1)


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
