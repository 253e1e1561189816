import math
import uuid

import pytest
from pyspark.sql import functions as F

from local_vectordb_spark.functions import embedding as E


def test_letter_count_embedding_manual(spark):
    df = spark.createDataFrame([("abca",)], "text string")
    vec = df.select(E.letter_count_embedding(F.col("text")).alias("v")).first()["v"]
    # counts: a=2, b=1, c=1, rest 0 → norm sqrt(6)
    n = math.sqrt(6)
    assert vec[0] == pytest.approx(2 / n)
    assert vec[1] == pytest.approx(1 / n)
    assert vec[2] == pytest.approx(1 / n)
    assert all(x == 0.0 for x in vec[3:])


def test_letter_count_zero_guard(spark):
    df = spark.createDataFrame([("123 456",)], "text string")
    vec = df.select(E.letter_count_embedding(F.col("text")).alias("v")).first()["v"]
    assert all(x == 0.0 for x in vec)


def test_hashed_embedding_deterministic_unit_norm(spark):
    df = spark.createDataFrame([("hello world",), ("hello world",), ("bye",)], "text string")
    udf = E.hashed_embedding_udf(dim=32)
    rows = df.select(F.col("text"), udf(F.col("text")).alias("v")).collect()
    by_text = {}
    for r in rows:
        by_text.setdefault(r["text"], []).append(r["v"])
    assert by_text["hello world"][0] == by_text["hello world"][1]
    for vs in by_text.values():
        assert math.isclose(sum(x * x for x in vs[0]), 1.0, rel_tol=1e-9)
    assert by_text["hello world"][0] != by_text["bye"][0]


def test_embed_if_missing_only_fills_nulls(spark):
    df = spark.createDataFrame(
        [(1, "a", [0.5, 0.5]), (2, "b", None)],
        "id long, text string, vec array<double>",
    )
    out = {r["id"]: r["vec"] for r in E.embed_if_missing(df, "text", "vec", E.hashed_embedding_udf(dim=2)).collect()}
    assert out[1] == [0.5, 0.5]  # existing kept
    assert out[2] is not None and len(out[2]) == 2


def test_api_embedder_requires_key_or_transport():
    """Without an injected transport or credentials the production
    backend fails at construction with a clear message, not deep in a
    Spark task."""
    import os

    assert "COHERE_API_KEY" not in os.environ  # env precondition
    with pytest.raises(E.EmbeddingClientError, match="no transport"):
        E.api_embedding_udf()


# ---------------------------------------------------------------------------
# Batched/retrying client core (pure python, no Spark needed)
# ---------------------------------------------------------------------------


def _vec_for(text):
    return [float(len(text)), float(ord(text[0]))]


def test_batched_embedder_chunks_and_preserves_order():
    calls = []

    def transport(chunk):
        calls.append(list(chunk))
        return [_vec_for(t) for t in chunk]

    texts = [f"t{i}" * (i + 1) for i in range(8)]
    out = E.batched_embedder(transport, batch_size=3)(texts)
    assert [len(c) for c in calls] == [3, 3, 2]
    assert sum(calls, []) == texts  # original order, nothing dropped
    assert out == [_vec_for(t) for t in texts]


def test_batched_embedder_retries_429_with_exponential_backoff():
    attempts, naps = [], []

    def flaky(chunk):
        attempts.append(1)
        if len(attempts) <= 2:
            raise E.TransientEmbeddingError(429, "rate limited")
        return [_vec_for(t) for t in chunk]

    out = E.batched_embedder(
        flaky, batch_size=10, backoff_base_s=0.1, sleep=naps.append
    )(["aa", "bb"])
    assert len(attempts) == 3
    assert naps == [pytest.approx(0.1), pytest.approx(0.2)]  # 2^n backoff
    assert out == [_vec_for("aa"), _vec_for("bb")]


def test_batched_embedder_retries_timeouts_then_gives_up():
    naps = []

    def always_times_out(chunk):
        raise TimeoutError("socket timeout")

    with pytest.raises(E.EmbeddingClientError, match="gave up after 3"):
        E.batched_embedder(
            always_times_out, max_retries=3, backoff_base_s=0.01, sleep=naps.append
        )(["x"])
    assert len(naps) == 3  # retried exactly max_retries times


def test_batched_embedder_permanent_error_not_retried():
    calls = []

    def forbidden(chunk):
        calls.append(1)
        raise PermissionError("401")

    with pytest.raises(PermissionError):
        E.batched_embedder(forbidden, sleep=lambda s: None)(["x"])
    assert len(calls) == 1


def test_batched_embedder_rejects_count_mismatch():
    def broken(chunk):
        return [[1.0]] * (len(chunk) - 1)

    with pytest.raises(E.EmbeddingClientError, match="vectors for"):
        E.batched_embedder(broken)(["a", "b"])


def test_api_embedding_udf_with_fake_transport(spark):
    """End-to-end through the pandas UDF: injected transport, vectors
    come back aligned with their rows."""
    from pyspark.sql import functions as F

    # fully self-contained closure: executors can't import this test module
    def transport(chunk):
        return [[float(len(t)), float(ord(t[0]))] for t in chunk]

    udf = E.api_embedding_udf(transport=transport, batch_size=2)
    rows = (
        spark.createDataFrame([("apple",), ("fig",), ("kiwi",)], "t string")
        .select("t", udf(F.col("t")).alias("v"))
        .collect()
    )
    assert {r.t: list(r.v) for r in rows} == {t: _vec_for(t) for t in ("apple", "fig", "kiwi")}


def test_md5_embedding_unit_norm_and_deterministic(spark):
    from local_vectordb_spark.functions.embedding import md5_embedding

    df = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world"), (3, "different text"), (4, "")],
        "id long, text string",
    )
    out = df.select(
        "id", md5_embedding(F.col("text"), dim=8).alias("v")
    ).collect()
    vs = {r.id: r.v for r in out}
    assert vs[1] == vs[2]            # same text → same vector
    assert vs[1] != vs[3]            # different text → different vector
    assert all(len(v) == 8 for v in vs.values())
    for i in (1, 3, 4):
        n = sum(x * x for x in vs[i]) ** 0.5
        assert abs(n - 1.0) < 1e-9   # L2-normalized (md5 of '' is still a hash)


# ---------------------------------------------------------------------------
# Query embedding on the driver (VectorDB._embed_texts)
# ---------------------------------------------------------------------------

EDGE_TEXTS = [
    "",
    "   \t\n ",
    "naïve café — 東京の天気 🚀",
    "x" * 5000,
    "what is the capital of germany",
]


def _api_backend():
    # builtins only: the Spark side ships this closure to a Python worker
    def transport(chunk):
        return [
            [len(t) / 7.0, (sum(map(ord, t)) % 101) / 3.0, -0.1] for t in chunk
        ]

    return E.api_embedding_udf(transport=transport, batch_size=2)


@pytest.mark.parametrize(
    "make_udf", [E.hashed_embedding_udf, _api_backend], ids=["hashed", "api"]
)
def test_driver_query_embedding_bit_identical_to_udf_job(spark, tmp_path, make_udf):
    """A pandas-UDF embedder is called in-process for query text: no
    Spark job runs, and every component equals the UDF's output
    through a Spark job bit for bit, on empty, whitespace-only,
    non-ASCII and 5,000-character texts."""
    from local_vectordb_spark.api import VectorDB
    from local_vectordb_spark.session import local_rows_df

    udf = make_udf()
    db = VectorDB(spark, str(tmp_path), embedder=udf)
    sc = spark.sparkContext
    group = f"driver-embed-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "driver-side query embedding")
    try:
        got = db._embed_texts(EDGE_TEXTS)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    want = [
        [float(x) for x in r.v]
        for r in local_rows_df(spark, [(t,) for t in EDGE_TEXTS], "t string")
        .select(udf(F.col("t")).alias("v"))
        .collect()
    ]
    assert [[x.hex() for x in v] for v in got] == [
        [x.hex() for x in v] for v in want
    ]
