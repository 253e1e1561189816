"""Product-quantization tier: codebook determinism, encode argmin
correctness vs numpy, and ADC search invariants."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from local_vectordb_spark.operators import knn, pq
from local_vectordb_spark.queries import _query_vecs
from local_vectordb_spark.session import load_table


def test_codebook_deterministic_and_dyadic():
    a = pq.pq_codebook(dim=64, m=8, k_codes=16)
    b = pq.pq_codebook(dim=64, m=8, k_codes=16)
    assert a == b
    assert len(a) == 8 and len(a[0]) == 16 and len(a[0][0]) == 8
    flat = [x for s in a for c in s for x in c]
    assert all(-1.0 <= x < 1.0 for x in flat)
    # dyadic rationals: value * 2^60 must be an exact integer
    assert all(float(x * (1 << 60)).is_integer() for x in flat)
    with pytest.raises(ValueError):
        pq.pq_codebook(dim=60, m=8)


def test_encode_matches_numpy_argmin(spark, sf_dir):
    book = pq.pq_codebook()
    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    got = {
        r.vec_id: list(r.codes)
        for r in emb.select(
            "vec_id", pq.pq_encode("embedding", book).alias("codes")
        ).collect()
    }
    rows = emb.select("vec_id", "embedding").collect()
    cb = np.array(book)  # (m, k, dsub)
    for r in rows:
        v = np.array(r.embedding, dtype=np.float64).reshape(8, 8)
        want = [
            int(np.argmin(((v[s] - cb[s]) ** 2).sum(axis=1))) for s in range(8)
        ]
        assert got[r.vec_id] == want


def test_adc_search_scores_are_exact_cosines(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vecs(sf_dir)[0][1]
    res = pq.pq_adc_search(emb, qv, k=10).collect()
    assert len(res) == 10
    scores = [r.score for r in res]
    assert scores == sorted(scores, reverse=True)
    exact = {r.vec_id: r.score for r in knn.score_all(emb, qv).collect()}
    for r in res:
        assert r.score == exact[r.vec_id]


def test_adc_candidates_match_numpy_replication(spark, sf_dir):
    """The no-shuffle candidate tier must be exactly the top-C by ADC
    (ties by id) that a numpy replication of table lookups selects."""
    book = pq.pq_codebook()
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vecs(sf_dir)[0][1]
    adc = pq.pq_adc_table(qv, book)
    scored = emb.select(
        "vec_id",
        pq.pq_adc_scores(pq.pq_encode("embedding", book), adc).alias("adc"),
    ).collect()
    got = [
        r.vec_id
        for r in sorted(scored, key=lambda r: (-r.adc, r.vec_id))[:50]
    ]
    rows = emb.select("vec_id", "embedding").collect()
    cb = np.array(book)
    want_scores = {}
    for r in rows:
        v = np.array(r.embedding, dtype=np.float64).reshape(8, 8)
        s = 0.0
        for sub in range(8):
            code = int(np.argmin(((v[sub] - cb[sub]) ** 2).sum(axis=1)))
            s += adc[sub][code]
        want_scores[r.vec_id] = s
    want = [
        i
        for i, _ in sorted(want_scores.items(), key=lambda t: (-t[1], t[0]))[:50]
    ]
    assert got == want


def test_encode_batch_equals_column(spark, sf_dir):
    """The Arrow encoder must produce byte-identical codes to the
    Column (JVM-fold) form — the bit-compatibility contract the SQL
    oracle relies on."""
    book = pq.pq_codebook()
    emb = load_table(spark, sf_dir, "embeddings")
    col_form = {
        r.vec_id: list(r.codes)
        for r in emb.select(
            "vec_id", pq.pq_encode("embedding", book).alias("codes")
        ).collect()
    }
    enc = pq.pq_encode_batch(book)
    batch_form = {
        r.vec_id: list(r.codes)
        for r in emb.select(
            "vec_id", enc(F.col("embedding")).alias("codes")
        ).collect()
    }
    assert col_form == batch_form


def test_trained_codebook_deterministic_and_validated():
    """Same sample + seed → identical book (the stored-codes contract);
    bad shapes raise."""
    rng = np.random.RandomState(3)
    sample = rng.randn(64, 16).tolist()
    a = pq.pq_codebook_trained(sample, m=8, k_codes=16)
    b = pq.pq_codebook_trained(sample, m=8, k_codes=16)
    assert a == b
    assert len(a) == 8 and len(a[0]) == 16 and len(a[0][0]) == 2
    with pytest.raises(ValueError):
        pq.pq_codebook_trained(sample[:10], m=8, k_codes=16)  # < k samples
    with pytest.raises(ValueError):
        pq.pq_codebook_trained(rng.randn(32, 15).tolist(), m=8)  # 15 % 8


def test_trained_recall_beats_md5_at_same_depth(spark):
    """The r6-verdict claim behind knn_pq_trained: at the SAME rescore
    depth (50), the data-fitted codebook's recall@10 vs brute force is
    ≥ 0.9 (measured 1.0 at sf0.01) while the md5 book's is far lower —
    the ADC ranking, not the rescore, is what training sharpens."""
    from local_vectordb_spark.queries import SPARK_QUERIES

    sf = "/root/testdata/sf0.01"  # the scale the recall claims cite
    r = {
        row["method"]: row["mean_recall_at_k"]
        for row in SPARK_QUERIES["ann_recall_trained"](spark, sf).collect()
    }
    assert r["pq_trained"] >= 0.9
    md5_tier = (
        SPARK_QUERIES["knn_pq_adc"](spark, sf)
        .join(
            SPARK_QUERIES["knn_brute_force"](spark, sf).select("vec_id"),
            "vec_id",
        )
        .count()
    )
    assert md5_tier / 10.0 < r["pq_trained"]


def test_deep_rescore_monotone_recall(spark, sf_dir):
    """Widening the ADC candidate list can only add to the candidate
    set, so recall is monotone in depth — and at depth = corpus size
    the PQ tier degenerates to exact brute force."""
    from local_vectordb_spark.queries import _query_vecs

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vecs(sf_dir)[0][1]
    exact = {r.vec_id for r in knn.knn_brute_force(emb, qv, k=10).collect()}
    n = emb.count()
    recalls = []
    for depth in (50, 300, n):
        got = {
            r.vec_id
            for r in pq.pq_adc_search(emb, qv, k=10, n_candidates=depth).collect()
        }
        recalls.append(len(got & exact) / 10.0)
    assert recalls == sorted(recalls)
    assert recalls[-1] == 1.0


def test_ivf_pq_trained_recall(spark):
    """The fully-trained composition (KMeans pruning x trained
    codebook x exact rescore) must hold recall@10 >= 0.9 at sf0.01
    (measured 1.0): data-adaptive cells on both axes buy what the md5
    tiers need depth-300/Hamming-2 budgets for."""
    from local_vectordb_spark.queries import SPARK_QUERIES

    sf = "/root/testdata/sf0.01"
    exact = {
        r.vec_id for r in SPARK_QUERIES["knn_brute_force"](spark, sf).collect()
    }
    got = {r.vec_id for r in SPARK_QUERIES["ivf_pq_trained"](spark, sf).collect()}
    assert len(got & exact) / 10.0 >= 0.9


def test_pq_family_multi_query_means(spark):
    """ann_recall_pq_multi (r7 verdict #5): the md5-book family's
    8-query mean recalls hold their measured floors (0.35/0.84 for
    depth 50/300; 0.30/0.80 for the sign-IVF compositions at sf0.01,
    asserted with slack for fixture regen), deepening the rescore
    must not hurt, and restricting to a sign-ball candidate set can
    only remove candidates (composition <= unrestricted tier)."""
    from local_vectordb_spark.queries import SPARK_QUERIES

    sf = "/root/testdata/sf0.01"
    means = {
        r.method: r.mean_recall_at_k
        for r in SPARK_QUERIES["ann_recall_pq_multi"](spark, sf).collect()
    }
    assert set(means) == {"pq_adc", "pq_adc_deep", "ivf_pq", "ivf_pq_multiprobe"}
    assert means["pq_adc"] >= 0.25
    assert means["pq_adc_deep"] >= 0.75
    assert means["ivf_pq"] >= 0.25
    assert means["ivf_pq_multiprobe"] >= 0.70
    # invariants that survive any fixture: depth only helps, and a
    # candidate restriction can only lose exact-top-k members
    assert means["pq_adc_deep"] >= means["pq_adc"]
    assert means["ivf_pq_multiprobe"] >= means["ivf_pq"]
    assert means["ivf_pq"] <= means["pq_adc"] + 1e-9
    assert means["ivf_pq_multiprobe"] <= means["pq_adc_deep"] + 1e-9


def test_ivf_pq_residual_finds_query_and_holds_recall_floor(spark):
    """Residual-encoded IVF-PQ: the query vector itself must surface
    (its cluster is always probed, its residual encodes to its own
    cells) and the 8-query mean recall holds the documented ≥0.85
    floor. The tier is recall-NEUTRAL vs the raw trained book on this
    weakly-clustered fixture (0.875 vs 0.90 at equal depth) — asserted
    as a band, not a win, per the honest-accounting docstring."""
    from local_vectordb_spark.queries import SPARK_QUERIES

    sf = "/root/testdata/sf0.01"  # the scale the recall claims cite
    top = SPARK_QUERIES["ivf_pq_residual"](spark, sf).collect()
    assert len(top) == 10
    assert top[0].vec_id == 0 and top[0].score == 1.0

    r = {
        row["corpus"]: row["mean_recall_at_k"]
        for row in SPARK_QUERIES["ann_recall_residual"](spark, sf).collect()
    }
    # weakly-clustered fixture: recall-neutral band (documented 0.875)
    assert 0.85 <= r["fixture"] <= 1.0
    # planted-family clustered corpus — the regime the tier exists for
    # (r9 verdict #7): residuals around tight centroids must recover
    # essentially the exact top-k
    assert r["clustered"] >= 0.95


def test_ivf_pq_residual_batch_equals_single_query_loop(spark):
    """The batch residual path (one encode scan + broadcast probe
    constants) must return exactly the single-query operator's results
    for every query — (query, id, score) triples compared as sets."""
    from local_vectordb_spark import queries as q
    from local_vectordb_spark.operators import pq
    from local_vectordb_spark.session import load_table

    sf = "/root/testdata/sf0.01"
    emb = load_table(spark, sf, "embeddings")
    centroids, assignments = q._ivf_index_for(spark, sf)
    book = q._residual_book_for(spark, sf)
    qvs = q._query_vecs(sf, max_vec_id=8)
    batch = pq.ivf_pq_residual_search_batch(
        emb, assignments, centroids, qvs,
        codebook=book, k=10, n_probe=8, n_candidates=150,
    )
    got = {(r.query_id, r.vec_id, r.score) for r in batch.collect()}
    want = set()
    for qid, qv in qvs:
        single = pq.ivf_pq_residual_search(
            emb, assignments, centroids, qv,
            codebook=book, k=10, n_probe=8, n_candidates=150,
        )
        want |= {(qid, r.vec_id, r.score) for r in single.collect()}
    assert got == want and len(got) == 80


def test_residual_stored_codes_equal_inline_batch(spark):
    """The stored residual-codes path must be value-identical to the
    inline encode: same (query, id, score) triples from
    knn_pq_residual_batch_stored and the codes=None batch form."""
    from local_vectordb_spark import queries as q
    from local_vectordb_spark.operators import pq
    from local_vectordb_spark.session import load_table

    sf = "/root/testdata/sf0.01"
    stored = {
        (r.query_id, r.vec_id, r.score)
        for r in q.SPARK_QUERIES["knn_pq_residual_batch_stored"](spark, sf).collect()
    }
    emb = load_table(spark, sf, "embeddings")
    centroids, assignments = q._ivf_index_for(spark, sf)
    inline = {
        (r.query_id, r.vec_id, r.score)
        for r in pq.ivf_pq_residual_search_batch(
            emb, assignments, centroids, q._query_vecs(sf, max_vec_id=8),
            codebook=q._residual_book_for(spark, sf),
            k=10, n_probe=8, n_candidates=150,
        ).collect()
    }
    assert stored == inline and len(stored) == 80


def test_adc_search_stored_codes_equal_inline_encode(spark):
    """``pq_adc_search(codes_col=...)`` over codes stored by
    ``pq_encode_md5`` (the covering sign layout's ``pq`` column) returns
    the inline encode's ids and bit-identical scores, with a zero-norm
    row, NaN rows and a tie in the corpus; a dimension the book cannot
    split stores NULL codes."""
    import random

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(120)]
    rows.append((500, [0.0] * 64))
    rows.append((501, [float("nan")] + [0.5] * 63))
    rows.append((502, [float("nan")] * 64))
    rows.append((503, list(rows[7][1])))  # ties row 7 on every score
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    stored = emb.withColumn("codes", pq.pq_encode_md5()(F.col("embedding")))
    assert stored.filter(F.col("codes").isNull()).count() == 0
    book = pq.pq_codebook(dim=64)
    inline_codes = {
        r.vec_id: list(r.c) for r in emb.select(
            "vec_id", pq.pq_encode_batch(book)(F.col("embedding")).alias("c")
        ).collect()
    }
    assert {r.vec_id: list(r.codes) for r in stored.collect()} == inline_codes

    def hexed(df):
        return [(r.vec_id, float.hex(r.score)) for r in df.collect()]

    queries = [rows[7][1], rows[40][1], [rng.uniform(-1, 1) for _ in range(64)]]
    for qv in queries:
        for k, c in ((5, 50), (30, 124)):
            inline = pq.pq_adc_search(emb, qv, k=k, n_candidates=c)
            from_codes = pq.pq_adc_search(
                stored, qv, k=k, n_candidates=c, codes_col="codes"
            )
            assert hexed(from_codes) == hexed(inline)
    # the deepest search reaches the zero-norm and NaN rows: scores 0.0
    # and NaN ride through both paths identically (checked above)
    deep = {r.vec_id for r in pq.pq_adc_search(
        stored, queries[2], k=124, n_candidates=124, codes_col="codes"
    ).collect()}
    assert {500, 501, 502, 503} <= deep

    odd = spark.createDataFrame(
        [(0, [0.5] * 12), (1, None), (2, [])], "vec_id long, embedding array<float>"
    ).select("vec_id", pq.pq_encode_md5()(F.col("embedding")).alias("codes"))
    assert [r.codes for r in odd.orderBy("vec_id").collect()] == [None] * 3
