from pyspark.sql import functions as F

from local_vectordb_spark.operators import dedup
from local_vectordb_spark.session import local_rows_df


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


BASE = "the quick brown fox jumps over the lazy dog again and again today"


def test_exact_dupes_normalization(spark):
    docs = _docs(
        spark,
        [
            (1, BASE),
            (2, "  " + BASE.upper() + " "),  # same normalized form
            (3, "completely different text here"),
        ],
    )
    out = dedup.exact_dupes(docs).collect()
    assert len(out) == 1
    assert out[0]["n_docs"] == 2
    assert out[0]["canonical_id"] == 1


def test_ngram_jaccard_finds_near_dup(spark):
    near = BASE.split(" ", 1)[1]  # drop first word
    docs = _docs(spark, [(1, BASE), (2, near), (3, "xx yy zz aa bb cc dd ee")])
    out = dedup.ngram_jaccard_dupes(docs, threshold=0.5).collect()
    assert [(r["a_id"], r["b_id"]) for r in out] == [(1, 2)]
    assert out[0]["jaccard"] > 0.8


def test_minhash_estimates_jaccard(spark):
    near = BASE.split(" ", 1)[1]
    docs = _docs(spark, [(1, BASE), (2, near)])
    exact = dedup.ngram_jaccard_dupes(docs, threshold=0.0).collect()[0]["jaccard"]
    est_rows = dedup.minhash_lsh_dupes(docs, threshold=0.0).collect()
    assert len(est_rows) == 1
    assert abs(est_rows[0]["est_jaccard"] - exact) <= 0.3


def test_minhash_deterministic(spark):
    docs = _docs(spark, [(1, BASE), (2, BASE.split(" ", 1)[1])])
    a = dedup.minhash_signatures(docs).collect()
    b = dedup.minhash_signatures(docs).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_minhash_portable_estimates_jaccard(spark):
    near = BASE.split(" ", 1)[1]
    docs = _docs(spark, [(1, BASE), (2, near), (3, "xx yy zz aa bb cc dd ee")])
    exact = dedup.ngram_jaccard_dupes(docs, threshold=0.0).collect()[0]["jaccard"]
    rows = dedup.minhash_lsh_dupes_portable(docs, threshold=0.0).collect()
    # the unrelated doc shares no shingles, so only the planted pair
    assert [(r["a_id"], r["b_id"]) for r in rows] == [(1, 2)]
    assert abs(rows[0]["est_jaccard"] - exact) <= 0.3


def test_simhash_identical_text_hamming_zero(spark):
    docs = _docs(spark, [(1, BASE), (2, BASE), (3, "other words entirely now")])
    out = dedup.simhash_dupes(docs, max_hamming=0).collect()
    assert [(r["a_id"], r["b_id"], r["hamming"]) for r in out] == [(1, 2, 0)]


def test_simhash_portable_identical_text_hamming_zero(spark):
    docs = _docs(spark, [(1, BASE), (2, BASE), (3, "other words entirely now")])
    out = dedup.simhash_dupes_portable(docs, max_hamming=0).collect()
    assert [(r["a_id"], r["b_id"], r["hamming"]) for r in out] == [(1, 2, 0)]
    # signatures stay within 60 bits (portable across BIGINT engines)
    sigs = dedup.simhash_signatures_portable(docs).collect()
    assert all(0 <= r["simhash"] < (1 << 60) for r in sigs)


def test_embedding_near_dupes_both_paths_agree(spark):
    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [1.0, 0.001, 0.0]),  # near-dup of 1
            (3, [0.0, 1.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    exact = {
        (r["a_id"], r["b_id"]): r["score"]
        for r in dedup.embedding_near_dupes(vecs, threshold=0.99).collect()
    }
    blas = {
        (r["a_id"], r["b_id"]): r["score"]
        for r in dedup.embedding_near_dupes_blas(vecs, threshold=0.99).collect()
    }
    assert exact == blas
    assert set(exact) == {(1, 2)}


def test_connected_components_chain_and_islands(spark):
    """A chain (1-2-3-4), a pair (10-11), and a singleton (20) collapse
    to min-label components — the chain proves transitivity beyond one
    hop."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "a_id long, b_id long"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 10, 11, 20)], "doc_id long"
    )
    got = {
        r.node: r.component
        for r in dedup.connected_components(pairs, nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}


def test_embedding_near_dupes_lsh_matches_blas(spark, sf_dir):
    """LSH-first near-dup (scale path) finds exactly the pairs the
    broadcast BLAS path finds on planted identical dupes — exact
    rescoring means precision is exact; identical vectors always
    collide so recall is 1 here."""
    from local_vectordb_spark.operators import dedup
    from local_vectordb_spark.session import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    planted = emb.select("vec_id", "embedding").unionByName(
        emb.filter(F.col("vec_id") % 20 == 0).select(
            (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
        )
    )
    want = {
        (r.a_id, r.b_id, r.score)
        for r in dedup.embedding_near_dupes_blas(planted, threshold=0.99).collect()
    }
    got = {
        (r.a_id, r.b_id, r.score)
        for r in dedup.embedding_near_dupes_lsh(planted, threshold=0.99).collect()
    }
    assert got == want
    assert len(got) > 0


def test_ngram_jaccard_max_df_caps_hot_shingle(spark):
    """Skew guard: 10k docs sharing one hot shingle must not generate
    the ~50M quadratic pair rows — the df cap removes the shingle from
    the universe, leaving only pairs supported by rare shingles."""
    hot = "common boiler plate"
    rows = [(i, f"{hot} unique{i} token{i} filler{i}") for i in range(10_000)]
    # one genuine near-dup pair sharing rare shingles
    rows += [(20_000, "alpha beta gamma delta epsilon"),
             (20_001, "alpha beta gamma delta epsilon")]
    docs = _docs(spark, rows)
    out = dedup.ngram_jaccard_dupes(docs, threshold=0.5, max_df=4).collect()
    assert [(r["a_id"], r["b_id"]) for r in out] == [(20_000, 20_001)]
    assert out[0]["jaccard"] == 1.0


def test_ngram_jaccard_max_df_none_unchanged(spark):
    """Default (no cap) is byte-identical to the pre-cap behavior."""
    near = BASE.split(" ", 1)[1]
    docs = _docs(spark, [(1, BASE), (2, near), (3, "xx yy zz aa bb cc dd ee")])
    uncapped = dedup.ngram_jaccard_dupes(docs, threshold=0.5).collect()
    huge_cap = dedup.ngram_jaccard_dupes(docs, threshold=0.5, max_df=10**6).collect()
    assert sorted(map(tuple, uncapped)) == sorted(map(tuple, huge_cap))


def test_minhash_bucket_cap_bounds_pairs_and_audits(spark):
    """Skew guard: 10k identical docs collapse into one bucket per
    band; the cap bounds pair generation at C(cap,2) per bucket and the
    audit reports exactly what was dropped."""
    rows = [(i, BASE) for i in range(10_000)]
    docs = _docs(spark, rows)
    cap = 5
    pairs = dedup.minhash_lsh_dupes_portable(
        docs, threshold=0.0, max_bucket_size=cap
    ).collect()
    # every bucket holds the same first `cap` ids (identical sigs, rank
    # by doc_id) → exactly C(cap,2) distinct pairs, est_jaccard 1.0
    assert len(pairs) == cap * (cap - 1) // 2
    assert all(r["est_jaccard"] == 1.0 for r in pairs)
    assert all(r["a_id"] < cap and r["b_id"] < cap for r in pairs)

    banded = dedup.minhash_banded_portable(docs)
    audit = dedup.lsh_bucket_audit(banded, "doc_id", max_bucket_size=cap).collect()
    assert len(audit) == 4  # one oversized bucket per band
    n = 10_000
    expected_drop = n * (n - 1) // 2 - cap * (cap - 1) // 2
    assert all(r["bucket_size"] == n for r in audit)
    assert all(r["n_pairs_dropped"] == expected_drop for r in audit)


def test_simhash_null_text_hashes_to_zero(spark):
    """ADVICE r5: NULL text must behave like empty text (simhash 0) so
    NULL-text docs stay in the dedup candidate pool and pair with
    empty-string docs, in both hash families."""
    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, BASE)], ["doc_id", "text"]
    )
    for fn in (dedup.simhash_signatures, dedup.simhash_signatures_portable):
        sigs = {r["doc_id"]: r["simhash"] for r in fn(docs).collect()}
        assert sigs[1] == 0 and sigs[2] == 0
        assert sigs[3] != 0


def test_keep_best_per_family_is_a_member_and_unique(spark, sf_dir):
    """The survivor pick emits exactly one row per duplicate family,
    the kept doc belongs to that family, and its quality is the
    family's max."""
    from pyspark.sql import functions as F

    from local_vectordb_spark.functions import text as T
    from local_vectordb_spark.queries import SPARK_QUERIES, _docs_with_near_dupes

    comp = {
        (r.node, r.component)
        for r in SPARK_QUERIES["dedup_components"](spark, sf_dir).collect()
    }
    docs = _docs_with_near_dupes(spark, sf_dir)
    quality = {
        r.doc_id: r.q
        for r in docs.select(
            "doc_id", T.quality_score(F.col("text")).alias("q")
        ).collect()
    }
    kept = SPARK_QUERIES["dedup_keep_best_per_family"](spark, sf_dir).collect()
    assert len(kept) == len({c for _, c in comp})
    for r in kept:
        members = [n for n, c in comp if c == r.component]
        assert r.doc_id in members
        assert r.family_size == len(members)
        assert r.quality == max(quality[m] for m in members)


def test_strip_boilerplate_removes_recurring_lines(spark):
    """Hand-computable line-level dedup: a banner recurring (with
    case/whitespace noise) in 3 docs and a shared footer are stripped;
    a recurring line SHORTER than min_chars survives (single short
    tokens recur by chance, not templating); a doc made entirely of
    boilerplate drops out; surviving lines keep their order."""
    rows = [
        (1, "COOKIE BANNER HERE\nhi yo\nalpha beta gamma\nfooter line text"),
        (2, "cookie banner here\nhi yo\ndelta epsilon\nfooter line text"),
        (3, "Cookie  Banner   Here\nhi yo\nzeta eta theta\nfooter line text"),
        (4, "unique one\nunique two"),
        (5, "footer line text"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    bp = {
        (r.norm, r.n_docs)
        for r in dedup.boilerplate_lines(docs, min_docs=3).collect()
    }
    assert bp == {("cookie banner here", 3), ("footer line text", 4)}

    out = {
        r.doc_id: r for r in dedup.strip_boilerplate(docs, min_docs=3).collect()
    }
    assert set(out) == {1, 2, 3, 4}  # doc 5 was pure boilerplate
    assert out[1].n_kept == 2
    assert out[1].clean_text == "hi yo\nalpha beta gamma"
    assert out[4].clean_text == "unique one\nunique two"


def test_connected_components_raises_on_nonconvergence(spark):
    """A chain graph deeper than max_iters must raise, not silently
    return split families (wrong components = leaked eval twins at
    scale)."""
    import pytest

    from local_vectordb_spark.operators import dedup

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "a_id long, b_id long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(chain, max_iters=2)
    # and a sufficient budget converges to one family
    labels = dedup.connected_components(chain, max_iters=11)
    assert {r.component for r in labels.collect()} == {0}


def test_simhash_votes_arrow_parity(spark, sf_dir):
    """The numpy mapInArrow vote kernel computes bit-identical
    signatures to the one-pass SQL aggregate on the real fixture
    corpus plus the edge rows (NULL / empty / whitespace-only /
    single-token text), for BOTH hash families."""
    from local_vectordb_spark.session import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    edges = _docs(
        spark,
        [
            (9_000_001, None),
            (9_000_002, ""),
            (9_000_003, "   \t \n "),
            (9_000_004, "one"),
        ],
    )
    corpus = docs.unionByName(edges)
    # one slice whose LAST rows are empty / NULL right after a
    # multi-token row: the batch-tail shape where a segment sum that
    # mishandles empty trailing segments drops the multi-token row's
    # last votes
    tail = local_rows_df(
        spark,
        [
            (9_100_001, "alpha beta gamma delta epsilon"),
            (9_100_002, ""),
            (9_100_003, "zeta eta theta iota kappa lambda"),
            (9_100_004, None),
            (9_100_005, ""),
        ],
        "doc_id long, text string",
    )
    for fn in (dedup.simhash_signatures, dedup.simhash_signatures_portable):
        for frame in (corpus, tail):
            arrow = {
                r["doc_id"]: r["simhash"]
                for r in fn(frame, use_arrow=True).collect()
            }
            expr = {
                r["doc_id"]: r["simhash"]
                for r in fn(frame, use_arrow=False).collect()
            }
            assert arrow == expr
        assert arrow[9_100_001] != 0 and arrow[9_100_003] != 0


# shingles() of these rows as computed before the token array was bound
# once: NULL, empty, whitespace-only, 1 and 2 tokens at n=3, repeated
# grams, and tab/newline/CR/mixed case
SHINGLE_EDGES = [
    (0, None, [""]),
    (1, "", [""]),
    (2, "   \t \n ", [""]),
    (3, "One", ["one"]),
    (4, "one Two", ["one two"]),
    (5, "a b c", ["a b c"]),
    (6, "a b a b a b a", ["a b a", "b a b"]),
    (
        7,
        "Foo\tBAR\nbaz  qux\r\nFoo bar BAZ",
        ["foo bar baz", "bar baz qux", "baz qux foo", "qux foo bar"],
    ),
    (8, "x y z x y z x y z", ["x y z", "y z x", "z x y"]),
    (9, "  Lead and trail  ", ["lead and trail"]),
]


def test_shingles_tokenize_once_and_keep_their_edges(spark):
    """The normalize+tokenize pipeline appears once in the built
    expression, and the output equals the earlier form's on every
    edge row."""
    from local_vectordb_spark.functions import text as T

    col = T.shingles(F.col("t"), 3)
    assert str(col).count("regexp_replace") == 1
    df = local_rows_df(spark, [(i, t) for i, t, _ in SHINGLE_EDGES], "i int, t string")
    got = {r["i"]: r["s"] for r in df.select("i", col.alias("s")).collect()}
    assert got == {i: want for i, _, want in SHINGLE_EDGES}


def test_shingles_identical_on_sf01_documents(spark, sf_dir):
    """Row-for-row shingle arrays over the sf0.1 documents table hash
    to the digest of the earlier (per-use tokenizing) form."""
    import hashlib
    import os

    from local_vectordb_spark.functions import text as T
    from local_vectordb_spark.session import load_table

    docs = load_table(spark, os.path.join(os.path.dirname(sf_dir), "sf0.1"), "documents")
    h, n = hashlib.sha256(), 0
    rows = docs.select("doc_id", T.shingles(F.col("text"), 3).alias("s"))
    for r in rows.orderBy("doc_id").collect():
        h.update(repr((r["doc_id"], list(r["s"]))).encode())
        n += 1
    assert n == 5000
    assert h.hexdigest() == (
        "59ae9a0a34a0387252b414ec2b0e922523f78282774fbd0a8ceb0494b3835b8c"
    )
