import numpy as np
import pytest
from pyspark.sql import functions as F

from local_vectordb_spark.operators import knn
from local_vectordb_spark.session import load_table


def test_brute_force_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    out = knn.knn_brute_force(emb, q, k=5).collect()
    assert len(out) == 5
    # the query vector itself must be rank 1 with score 1.0
    assert out[0]["vec_id"] == 0
    assert out[0]["score"] == 1.0
    # scores monotonically non-increasing
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)


def test_brute_force_uses_take_ordered(spark, sf_dir):
    """ORDER BY + LIMIT must compile to TakeOrderedAndProject (distributed
    per-partition top-k), not a global sort."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = list(emb.first()["embedding"])
    plan = knn.knn_brute_force(emb, q, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_batch_matches_single(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qrows = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id").isin(3, 7)).collect()
    ]
    batch = {
        (r["query_id"], r["vec_id"]): r["score"]
        for r in knn.knn_batch(emb, qrows, k=4).collect()
    }
    for qid in (3, 7):
        qv = list(emb.filter(F.col("vec_id") == qid).first()["embedding"])
        single = knn.knn_brute_force(emb, qv, k=4).collect()
        for r in single:
            assert batch[(qid, r["vec_id"])] == r["score"]


def test_hydrate_inner_join_drops_missing(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") != 0)
    q = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    topk = knn.knn_brute_force(emb, q, k=5)
    out = knn.hydrate(topk, docs).collect()
    ids = {r["vec_id"] for r in out}
    assert 0 not in ids  # missing record dropped, reference semantics
    assert len(out) == 4


def test_metadata_filter(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    filtered = knn.metadata_filter(emb, label=2)
    assert filtered.filter(F.col("label") != 2).count() == 0


def test_range_search_threshold_and_order(spark, sf_dir):
    """Range search returns exactly the rows scoring ≥ τ on the full
    scan, ordered (score desc, id asc), and τ=-1 returns the whole
    corpus (minus nothing: scores lie in [-1, 1])."""
    from pyspark.sql import functions as F

    from local_vectordb_spark.operators import knn
    from local_vectordb_spark.queries import _query_vecs
    from local_vectordb_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vecs(sf_dir)[0][1]
    tau = 0.2
    got = knn.range_search(emb, qv, min_score=tau).collect()
    all_scores = knn.score_all(emb, qv).collect()
    want = sorted(
        [(r.vec_id, r.score) for r in all_scores if r.score >= tau],
        key=lambda t: (-t[1], t[0]),
    )
    assert [(r.vec_id, r.score) for r in got] == want
    assert knn.range_search(emb, qv, min_score=-1.0).count() == emb.count()


# -- the exact top-k kernel (knn_batch_table) at its boundaries ----------


def _reference_topk(corpus, queries, k, exclude_self):
    """numpy brute force of the kernel's contract: per query, the top-k
    of (id, rounded cosine) in Spark's (score desc, id asc) order."""
    from local_vectordb_spark.operators.ann import _score_desc_key

    def unit(v):
        v = np.asarray(v, dtype=np.float64)
        n = np.linalg.norm(v)
        return v / n if n else v

    out = set()
    for qid, qv in queries:
        pairs = [
            (cid, None if qv is None or cv is None
             else round(float(unit(qv) @ unit(cv)), knn.SCORE_DECIMALS))
            for cid, cv in corpus
            if not (exclude_self and cid == qid)
        ]
        out |= {(qid, i, s) for i, s in sorted(pairs, key=_score_desc_key)[:k]}
    return out


def _kernel_rows(spark, corpus, queries, k, exclude_self, id_type, layout="one"):
    schema = f"id {id_type}, embedding array<double>"
    c = spark.createDataFrame(corpus, schema)
    q = None
    if queries is not None:
        q = spark.createDataFrame(
            queries, f"query_id {id_type}, qv array<double>"
        )
    if layout == "one":
        c, q = c.repartition(1), q and q.repartition(1)
    elif layout == "five":
        c, q = c.repartition(5), q and q.repartition(5)
    else:  # shuffled row order
        c, q = c.orderBy(F.rand(7)), q and q.orderBy(F.rand(8))
    out = knn.knn_batch_table(
        c, q, k=k, id_col="id", exclude_self=exclude_self
    ).collect()
    return {(r.query_id, r.id, r.score) for r in out}


def _boundary_corpus(id_type):
    """35 rows: 6-d random vectors, two zero-norm rows, and four copies
    of row 5's vector, so its queries tie at the k boundary."""
    rng = np.random.default_rng(5)
    ids = [int(i) for i in rng.permutation(1000)[:35]]
    vecs = [[float(x) for x in rng.normal(size=6)] for _ in range(35)]
    vecs[3] = vecs[9] = [0.0] * 6
    for j in (11, 17, 23, 29):
        vecs[j] = list(vecs[5])
    if id_type == "string":
        ids = [f"doc-{i:04d}" for i in ids]
    return list(zip(ids, vecs))


@pytest.mark.parametrize(
    "id_type,blocks,layout,exclude_self,self_join",
    [
        ("long", 1, "one", False, False),
        ("long", 2, "five", True, True),
        ("long", 7, "shuffled", False, True),
        ("string", 7, "five", True, False),
        ("string", 2, "shuffled", False, False),
        ("string", 1, "one", True, True),
    ],
)
def test_exact_topk_kernel_matches_numpy_reference(
    monkeypatch, spark, id_type, blocks, layout, exclude_self, self_join
):
    """The kernel equals a per-pair numpy brute force whatever the
    blocking, the input partitioning or row order, for long and uuid
    string ids, with zero-norm rows and duplicate vectors tied at the
    k boundary: the corpus queried with itself (the graph builds) or
    with a query table that shares some of its ids."""
    corpus = _boundary_corpus(id_type)
    rows_per_block = -(-len(corpus) // blocks)
    assert -(-len(corpus) // rows_per_block) == blocks
    monkeypatch.setattr(knn, "ROWS_PER_BLOCK", rows_per_block)
    # the tied family, a zero-norm query and one not in the corpus
    queries = [corpus[j] for j in (0, 3, 5, 11, 20)] + [
        (corpus[1][0] if exclude_self else corpus[34][0], [0.5] * 6)
    ]
    # k=3 cuts through the five-way tie of rows 5, 11, 17, 23, 29
    want = _reference_topk(
        corpus, corpus if self_join else queries, 3, exclude_self
    )
    assert _kernel_rows(
        spark, corpus, None if self_join else queries, 3, exclude_self,
        id_type, layout,
    ) == want


def test_exact_topk_kernel_small_corpora(spark):
    """k past the corpus size returns every pair; a 1-row corpus has
    one neighbour, itself, and none once self is excluded."""
    corpus = [(1, [1.0, 2.0]), (2, [2.0, -1.0]), (3, [0.0, 0.0])]
    queries = [(1, [1.0, 1.0]), (7, [-1.0, 0.5])]
    assert _kernel_rows(spark, corpus, queries, 10, False, "long") == (
        _reference_topk(corpus, queries, 10, False)
    )
    one = corpus[:1]
    assert _kernel_rows(spark, one, None, 5, False, "long") == {(1, 1, 1.0)}
    assert _kernel_rows(spark, one, None, 5, True, "long") == set()


def test_exact_topk_kernel_empty_inputs(spark):
    """An empty corpus or an empty query table returns no rows."""
    corpus = [(1, [1.0, 2.0]), (2, [2.0, -1.0])]
    assert _kernel_rows(spark, [], corpus, 5, False, "long") == set()
    assert _kernel_rows(spark, corpus, [], 5, False, "long") == set()


def test_exact_topk_kernel_null_and_nan_embedding_rows(spark):
    """A NULL vector on either side scores NULL and ranks after every
    number, a NaN component scores NaN and ranks first, and a zero-norm
    side scores 0.0 — the output the JVM cosine expression gave,
    recorded row for row."""
    corpus = [
        (1, [1.0, 0.0]), (2, None), (3, [0.0, 0.0]), (4, [1.0, 1.0]),
        (5, [0.5, 0.5]),
    ]
    queries = [(10, [1.0, 0.0]), (11, None), (12, [0.0, 0.0])]
    assert _kernel_rows(spark, corpus, queries, 3, False, "long") == {
        (10, 1, 1.0), (10, 4, 0.707107), (10, 5, 0.707107),
        (11, 1, None), (11, 2, None), (11, 3, None),
        (12, 1, 0.0), (12, 3, 0.0), (12, 4, 0.0),
    }
    assert _kernel_rows(spark, corpus, queries, 5, False, "long") == {
        (10, 1, 1.0), (10, 2, None), (10, 3, 0.0), (10, 4, 0.707107),
        (10, 5, 0.707107), (11, 1, None), (11, 2, None), (11, 3, None),
        (11, 4, None), (11, 5, None), (12, 1, 0.0), (12, 2, None),
        (12, 3, 0.0), (12, 4, 0.0), (12, 5, 0.0),
    }
    nan_corpus = [(1, [1.0, 0.0]), (2, [float("nan"), 0.0]), (3, [0.0, 1.0])]
    got = _kernel_rows(spark, nan_corpus, [(10, [1.0, 0.0])], 2, False, "long")
    assert {(q, i, "nan" if s != s else s) for q, i, s in got} == {
        (10, 2, "nan"), (10, 1, 1.0),
    }
