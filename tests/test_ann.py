from pyspark.sql import functions as F

from local_vectordb_spark.operators import ann, ivf, knn
from local_vectordb_spark.session import load_table


def _brute_ids(spark, sf_dir, qv, k):
    emb = load_table(spark, sf_dir, "embeddings")
    return [r["vec_id"] for r in knn.knn_brute_force(emb, qv, k=k).collect()]


def _qv(spark, sf_dir, vid=0):
    emb = load_table(spark, sf_dir, "embeddings")
    return list(emb.filter(F.col("vec_id") == vid).first()["embedding"])


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    """IVF with n_probe=3/8 clusters on ~unclustered data must still
    recall a reasonable fraction of the true top-10 and never return a
    vector outside the probed clusters' member set."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _qv(spark, sf_dir)
    _, centroids, assignments = ivf.ivf_build(emb, n_clusters=8)
    got = [
        r["vec_id"]
        for r in ivf.ivf_search(emb, assignments, centroids, qv, k=10, n_probe=3).collect()
    ]
    assert len(got) == 10
    truth = set(_brute_ids(spark, sf_dir, qv, 10))
    # query vector itself lives in a probed cluster → must be found
    assert 0 in got
    assert len(set(got) & truth) >= 2  # loose: data is unclustered, 3/8 probed


def test_ivf_full_probe_equals_brute_force(spark, sf_dir):
    """Probing every cluster must reduce IVF to exact brute force."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _qv(spark, sf_dir, vid=3)
    _, centroids, assignments = ivf.ivf_build(emb, n_clusters=8)
    got = [
        r["vec_id"]
        for r in ivf.ivf_search(emb, assignments, centroids, qv, k=10, n_probe=8).collect()
    ]
    assert got == _brute_ids(spark, sf_dir, qv, 10)


def test_ivf_fit_on_sample_past_train_cap(spark, sf_dir, monkeypatch):
    """r12 verdict #4: the TRAIN_SAMPLE_MAX branch (ivf_build's
    fit-on-sample guard — every KMeans iteration is a full pass over
    its input, the first thing that stops scaling on a 100 TB corpus)
    had never executed. Lower the cap to force it on the 500-row
    fixture and pin all three contract points: (a) the FIT consumed
    the seeded sample, not the corpus; (b) transform still assigned
    EVERY row; (c) the sampled-fit cell structure keeps the index
    exact under a full-width probe and holds the pruned-probe recall
    floor the full fit measures on this fixture."""
    from pyspark.ml.clustering import KMeans

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()  # 500 on the fixture
    cap = n // 4
    monkeypatch.setattr(ivf, "TRAIN_SAMPLE_MAX", cap)

    fit_sizes: list[int] = []
    orig_fit = KMeans.fit

    def spy_fit(self, dataset, *a, **k):
        fit_sizes.append(dataset.count())
        # MLlib KMeans aggregates cluster sums in task-completion
        # order, so under load the fp rounding of the centroids (and
        # hence boundary vectors' cells at n_probe=3) shifts run to
        # run — the mechanism behind the r15/r16/r18 flakes on the
        # recall-floor assertion below. One partition makes the
        # aggregation order (and the fit) deterministic; the
        # parallel-order nondeterminism is MLlib's, not a contract of
        # the code under test.
        return orig_fit(self, dataset.coalesce(1), *a, **k)

    monkeypatch.setattr(KMeans, "fit", spy_fit)

    # n_rows known and > cap → the sampled-fit branch
    _, cents_s, asg_s = ivf.ivf_build(emb, n_clusters=8, n_rows=n)
    # (a) the fit input is the Bernoulli sample at fraction cap/n —
    # sized near the cap, never the corpus (±50% absorbs sampling
    # noise at n=500 while still ruling out a full-corpus fit)
    assert len(fit_sizes) == 1
    assert cap * 0.5 <= fit_sizes[0] <= cap * 1.5 < n
    # (b) every row is assigned exactly once, to a real cell
    rows = asg_s.collect()
    assert len(rows) == n
    assert len({r.vec_id for r in rows}) == n
    assert {r.cluster_id for r in rows} <= set(range(8))

    # (c) exactness is training-independent: a full-width probe over
    # the sampled-fit index IS brute force (same invariant the
    # full-fit index carries in test_ivf_full_probe_equals_brute_force)
    qv = _qv(spark, sf_dir, vid=3)
    got_s = [
        r.vec_id
        for r in ivf.ivf_search(emb, asg_s, cents_s, qv, k=10, n_probe=8).collect()
    ]
    truth = _brute_ids(spark, sf_dir, qv, 10)
    assert got_s == truth

    # ...and the pruned probe holds the full fit's measured recall on
    # this fixture (both fits measured 9/10 at n_probe=3 for vid=3;
    # floor asserted one below the full fit's run-time reading so a
    # KMeans version nudging cell boundaries degrades gracefully)
    _, cents_f, asg_f = ivf.ivf_build(emb, n_clusters=8)  # full fit
    assert len(fit_sizes) == 2 and fit_sizes[1] == n  # spy: full pass
    pruned_s = {
        r.vec_id
        for r in ivf.ivf_search(emb, asg_s, cents_s, qv, k=10, n_probe=3).collect()
    }
    pruned_f = {
        r.vec_id
        for r in ivf.ivf_search(emb, asg_f, cents_f, qv, k=10, n_probe=3).collect()
    }
    # The r18 ADVICE asked to PIN the sampled reading (7/10 ± 1) on
    # the grounds that the coalesced fits are deterministic — r19
    # tried exactly that and measured the sampled recall at 9, then 6,
    # within the hour on identical code and fixture bytes (the full
    # fit read 9 every time): the sampled fit's variance survives the
    # coalesce, so an exact pin is a flake, not a gate. Keep the
    # full−3 floor — it still gates collapse (random cells score
    # ~1-2/10) — and let the full-width-probe exactness assertion
    # above remain the hard correctness gate.
    floor = max(2, len(pruned_f & set(truth)) - 3)
    assert len(pruned_s & set(truth)) >= floor


def test_ivf_add_remove(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    model, _, assignments = ivf.ivf_build(emb, n_clusters=4)
    n0 = assignments.count()
    new_rows = emb.limit(3).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    grown = ivf.ivf_add(model, new_rows, assignments)
    assert grown.count() == n0 + 3
    shrunk = ivf.ivf_remove(grown, new_rows.select("vec_id"))
    assert shrunk.count() == n0


def test_knn_graph_structure(spark, sf_dir):
    edges = ann.knn_graph(load_table(spark, sf_dir, "embeddings"), k=5)
    pdf = edges.toPandas()
    n = load_table(spark, sf_dir, "embeddings").count()
    assert len(pdf) == n * 5
    assert (pdf["src"] != pdf["dst"]).all()          # no self loops
    assert pdf.groupby("src").size().eq(5).all()     # exactly k out-edges


def test_knn_graph_matches_brute_force_for_one_node(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _qv(spark, sf_dir, vid=5)
    edges = ann.knn_graph(emb, k=5).filter(F.col("src") == 5).collect()
    got = [r["dst"] for r in sorted(edges, key=lambda r: (-r["score"], r["dst"]))]
    truth = [i for i in _brute_ids(spark, sf_dir, qv, 6) if i != 5][:5]
    assert got == truth


def test_graph_add_remove(spark):
    edges = spark.createDataFrame(
        [(1, 2, 0.9), (2, 1, 0.9)], "src long, dst long, score double"
    )
    new = spark.createDataFrame([(3, 1, 0.5)], "src long, dst long, score double")
    grown = ann.graph_add(edges, new)
    assert grown.count() == 4  # both directions added
    pruned = ann.graph_remove(grown, spark.createDataFrame([(3,)], "vec_id long"))
    assert sorted((r["src"], r["dst"]) for r in pruned.collect()) == [(1, 2), (2, 1)]


def test_lsh_pairs_recall_of_close_pairs(spark, sf_dir):
    """Every planted identical pair (L2=0) must collide in some hash
    table and be returned by the bucket join."""
    emb = load_table(spark, sf_dir, "embeddings")
    planted = emb.select("vec_id", "embedding").unionByName(
        emb.filter(F.col("vec_id") % 50 == 0).select(
            (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
        )
    )
    pairs = ann.lsh_bucket_pairs(planted, max_l2=0.001).collect()
    got = {(r["a_id"], r["b_id"]) for r in pairs}
    expected = {
        (r["vec_id"], r["vec_id"] + 1000000)
        for r in emb.filter(F.col("vec_id") % 50 == 0).collect()
    }
    assert expected <= got


def test_lsh_search_returns_query_first(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _qv(spark, sf_dir)
    out = ann.lsh_search(emb, qv, k=3).collect()
    assert out[0]["vec_id"] == 0
    assert out[0]["l2_dist"] == 0.0


def test_lsh_pairs_selectivity_not_all_pairs(spark, sf_dir):
    """r1 verdict: candidate pairs must be ≪ n²/2 — the old
    bucket_length=2.0 default put every vector in one bucket and
    returned 87% of all pairs. With projection-scale buckets the
    bucket join must stay below 5% of the quadratic ceiling."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    got = ann.lsh_bucket_pairs(emb, max_l2=1.2).count()
    assert got < 0.05 * n * (n - 1) / 2, f"{got} pairs ≈ all-pairs blowup"
    assert got > 0  # and the close tail is actually surfaced


def test_derived_bucket_length_tracks_norm_and_dim(spark, sf_dir):
    """r2 ADVICE: the LSH bucket width must come from the corpus, not a
    unit-norm/64-d constant. Scaling every vector by 10x must scale the
    derived width by ~10x (projection std scales with the norm), and
    the unit-norm fixture must land at the tuned 0.05."""
    import pytest

    emb = load_table(spark, sf_dir, "embeddings")
    base = ann.derive_bucket_length(emb)
    assert base == pytest.approx(0.4 * 1.0 / 8.0, rel=0.05)  # 64-d unit
    scaled = emb.select(
        "vec_id", F.transform("embedding", lambda x: x * 10).alias("embedding")
    )
    assert ann.derive_bucket_length(scaled) == pytest.approx(10 * base, rel=0.05)


def test_knn_graph_blocked_equals_broadcast(spark, sf_dir):
    """The block-matrix build is EXACT: identical edge set to the
    broadcast variant, with no driver collect of the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    want = {
        (r.src, r.dst, r.score) for r in ann.knn_graph(emb, k=5).collect()
    }
    got = {
        (r.src, r.dst, r.score)
        for r in ann.knn_graph_blocked(emb, k=5, n_blocks=4).collect()
    }
    assert got == want


def test_knn_graph_blocked_odd_block_count(spark, sf_dir):
    """Exactness can't depend on the blocking factor."""
    emb = load_table(spark, sf_dir, "embeddings").limit(120)
    want = {(r.src, r.dst) for r in ann.knn_graph(emb, k=3).collect()}
    got = {
        (r.src, r.dst)
        for r in ann.knn_graph_blocked(emb, k=3, n_blocks=7).collect()
    }
    assert got == want


def test_graph_beam_search_deterministic_and_recalls(spark, sf_dir):
    """Fixed-hop beam search over the kNN graph (the NSW greedy-search
    swap): deterministic across runs, scores sorted desc with id
    tiebreak, and recall@10 vs brute force well above chance on the
    fixture corpus."""
    from local_vectordb_spark import queries as q
    from local_vectordb_spark.operators import knn
    from local_vectordb_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qv = q._query_vecs(sf_dir)[0][1]
    edges = ann.knn_graph(emb, k=5)
    scored = knn.score_all(emb, qv)
    a = ann.graph_beam_search(edges, scored, k=10, beam=8, hops=3).collect()
    b = ann.graph_beam_search(edges, scored, k=10, beam=8, hops=3).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    scores = [r.score for r in a]
    assert scores == sorted(scores, reverse=True)
    beam_ids = {r.vec_id for r in a}
    brute_ids = {r.vec_id for r in knn.knn_brute_force(emb, qv, k=10).collect()}
    assert len(beam_ids & brute_ids) / 10 >= 0.5


def test_graph_beam_search_orders_nan_and_null_like_spark(spark):
    """The driver-side re-rank sorts like Spark's desc(score),
    asc(id): a NaN score (score_all over a NaN embedding) is greatest,
    a NULL score last, ties break id ascending."""
    from pyspark.sql import functions as F

    scored = spark.createDataFrame(
        [(1, 0.5), (2, float("nan")), (3, 0.9), (4, 0.5), (5, None)],
        "vec_id long, score double",
    )
    edges = spark.createDataFrame(
        [(1, d) for d in (2, 3, 4, 5)], "src long, dst long"
    )
    want = [
        r.vec_id
        for r in scored.orderBy(F.desc("score"), F.asc("vec_id")).collect()
    ]
    assert want == [2, 3, 1, 4, 5]
    got = ann.graph_beam_search(edges, scored, k=5, beam=8, hops=1).collect()
    assert [r.vec_id for r in got] == want
    top2 = ann.graph_beam_search(edges, scored, k=2, beam=8, hops=1).collect()
    assert [r.vec_id for r in top2] == want[:2]


def test_lsh_md5_buckets_agree_driver_vs_spark(spark, sf_dir):
    """The md5-hyperplane bucket must be bit-identical between the
    Spark expression (hyperplane_bucket) and the driver-side fold
    (hyperplane_probe's bucket computation) — the property the SQL
    oracle's exactness rests on."""
    from local_vectordb_spark.operators.ann import (
        hyperplane_bucket,
        hyperplane_probe,
        md5_hyperplanes,
    )
    from local_vectordb_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    planes = md5_hyperplanes(64, 4)
    got = {
        r["vec_id"]: r["b"]
        for r in emb.select(
            "vec_id", hyperplane_bucket("embedding", planes).alias("b")
        ).collect()
    }
    rows = emb.select("vec_id", "embedding").collect()
    for r in rows:
        # probe[0] is the vector's own bucket
        assert hyperplane_probe(r["embedding"], planes)[0] == got[r["vec_id"]]


def test_lsh_md5_search_finds_query_itself(spark, sf_dir):
    """The probe always includes the query's own bucket, so when the
    query vector is a corpus member it must come back first with
    score 1.0; all of brute-force top-k that shares a probed bucket
    must appear, in the same order."""
    from local_vectordb_spark.operators import ann, knn
    from local_vectordb_spark.queries import _query_vecs
    from local_vectordb_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vecs(sf_dir)[0][1]
    out = ann.lsh_search_md5(emb, qv, k=5).collect()
    assert out[0]["vec_id"] == 0 and out[0]["score"] == 1.0
    # the LSH result is exact over its candidate set: every returned
    # score also appears in the exact top-k at rank <= its LSH rank
    exact = knn.knn_brute_force(emb, qv, k=50).collect()
    exact_rank = {r["vec_id"]: i for i, r in enumerate(exact)}
    ranks = [exact_rank[r["vec_id"]] for r in out if r["vec_id"] in exact_rank]
    assert ranks == sorted(ranks)


def test_sign_probe_hamming2_contents():
    """Hamming≤2 probe: 11 distinct buckets for n_bits=4, own bucket
    first, every probe within Hamming 2, and the Hamming≤1 prefix is
    exactly the old single-probe list (back-compat of default)."""
    from local_vectordb_spark.operators import ivf

    qv = [0.3, -0.1, 0.2, -0.4] + [0.0] * 60
    h1 = ivf.sign_probe(qv, n_bits=4)
    h2 = ivf.sign_probe(qv, n_bits=4, max_hamming=2)
    assert len(h2) == 11 and len(set(h2)) == 11
    assert h2[:5] == h1
    qb = h1[0]
    assert all(bin(b ^ qb).count("1") <= 2 for b in h2)


def test_lsh_md5_multi_candidates_superset(spark, sf_dir):
    """The 4-table union's candidate set contains table 0's (table 0
    shares the single-table seed), so multi-table recall can never be
    below single-table recall — and both return exact cosines over
    their candidates."""
    from local_vectordb_spark.operators import ann, knn
    from local_vectordb_spark.queries import _query_vecs
    from local_vectordb_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vecs(sf_dir)[0][1]
    exact = {r.vec_id for r in knn.knn_brute_force(emb, qv, k=10).collect()}
    single = {
        r.vec_id for r in ann.lsh_search_md5(emb, qv, k=10).collect()
    }
    multi = {
        r.vec_id
        for r in ann.lsh_search_md5_multi(emb, qv, k=10, n_tables=4).collect()
    }
    assert len(multi & exact) >= len(single & exact)


def test_knn_graph_lsh_recall_and_exactness(spark, sf_dir):
    """The LSH-bucketed graph's edges are a subset of chances the
    oracle defines (buckets within Hamming 2 in some table), scores
    are exact cosines, per-src degree ≤ k — and it recovers ≥ 0.9 of
    the exact graph's edges on the near-orthogonal fixture (measured
    0.97 at sf0.001); planted near-dup edges are always recovered."""
    from local_vectordb_spark.operators import ann
    from local_vectordb_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact_edges = {
        (r.src, r.dst) for r in ann.knn_graph_blocked(emb, k=5).collect()
    }
    lsh_edges = ann.knn_graph_lsh(emb, k=5).collect()
    got = {(r.src, r.dst) for r in lsh_edges}
    assert len(got & exact_edges) / len(exact_edges) >= 0.9
    # structural: no self-edges, ≤ k per src, no duplicate pairs
    assert all(r.src != r.dst for r in lsh_edges)
    assert len(got) == len(lsh_edges)
    from collections import Counter

    deg = Counter(r.src for r in lsh_edges)
    assert max(deg.values()) <= 5


def test_hyperplane_bucket_batch_equals_column(spark, sf_dir):
    """The Arrow-batched bucket UDF must produce bit-identical bucket
    ids to the Column (JVM-fold) form for every corpus vector AND for
    the driver-side fold — the three-way agreement the knn_graph_lsh
    oracle rests on."""
    from local_vectordb_spark.operators.ann import (
        hyperplane_bucket,
        hyperplane_bucket_batch,
        md5_hyperplanes,
        table_seed,
    )
    from local_vectordb_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    for t in range(2):
        planes = md5_hyperplanes(64, 4, table_seed("lvdb-lsh-v1", t))
        col_form = {
            r.vec_id: r.b
            for r in emb.select(
                "vec_id", hyperplane_bucket("embedding", planes).alias("b")
            ).collect()
        }
        batch_form = {
            r.vec_id: r.b
            for r in emb.select(
                "vec_id",
                hyperplane_bucket_batch(planes)(F.col("embedding")).alias("b"),
            ).collect()
        }
        assert col_form == batch_form


def test_hyperplane_bucket_batch_multi_equals_single(spark, sf_dir):
    """The fused multi-table bucket UDF (one corpus scan for all
    tables — the r18 knn_graph_lsh plan) must agree element-for-
    element with the single-table form for every vector and table."""
    from local_vectordb_spark.operators.ann import (
        hyperplane_bucket_batch,
        hyperplane_bucket_batch_multi,
        md5_hyperplanes,
        table_seed,
    )
    from local_vectordb_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    tables = [
        md5_hyperplanes(64, 4, table_seed("lvdb-lsh-v1", t)) for t in range(2)
    ]
    multi = {
        r.vec_id: list(r.bs)
        for r in emb.select(
            "vec_id",
            hyperplane_bucket_batch_multi(tables)(F.col("embedding")).alias(
                "bs"
            ),
        ).collect()
    }
    for t, planes in enumerate(tables):
        single = {
            r.vec_id: r.b
            for r in emb.select(
                "vec_id",
                hyperplane_bucket_batch(planes)(F.col("embedding")).alias("b"),
            ).collect()
        }
        assert {k: v[t] for k, v in multi.items()} == single


def test_graph_lsh_bits_scales_with_corpus():
    """The auto n_bits knob: small corpora keep the oracle's 4 bits,
    big ones get enough buckets to bound per-group work, and the
    bound max_rows_per_bucket is respected (or the 16-bit cap hit)."""
    from local_vectordb_spark.operators.ann import graph_lsh_bits

    from local_vectordb_spark.operators.ann import GRAPH_LSH_MAX_ROWS

    assert graph_lsh_bits(500) == 4
    assert graph_lsh_bits(2000) == 4  # the sf0.1 fixture MUST stay on
    # the oracle's 4 bits (a 512-row bound flipped exactly this size)
    b = graph_lsh_bits(20_000)
    assert b > 4 and 20_000 * (b + 1) / (1 << b) <= GRAPH_LSH_MAX_ROWS
    assert graph_lsh_bits(10**9) == 16  # cap


def test_knn_graph_auto_dispatch_per_regime(monkeypatch, spark, sf_dir):
    """The size dispatcher routes each regime to the right builder
    (r7 verdict #7) WITHOUT a sizing scan when n_rows is hinted —
    builders are stubbed so only the dispatch decision is under test."""
    calls = []

    def fake(name):
        def _f(*a, **kw):
            calls.append((name, kw))
            return "df"

        return _f

    monkeypatch.setattr(ann, "knn_graph", fake("broadcast"))
    monkeypatch.setattr(ann, "knn_graph_blocked", fake("blocked"))
    monkeypatch.setattr(ann, "knn_graph_lsh", fake("lsh"))

    ann.knn_graph_auto(None, k=5, n_rows=5_000)
    ann.knn_graph_auto(None, k=5, n_rows=50_000)
    ann.knn_graph_auto(None, k=5, n_rows=500_000)
    names = [n for n, _ in calls]
    assert names == ["broadcast", "blocked", "lsh"]
    # blocked regime scales n_blocks with n (floored at the default 8;
    # 50k/12.5k rounds to 4 → 8, and a 100k corpus gets exactly 8)
    assert calls[1][1]["n_blocks"] == 8
    # lsh regime forwards the hint so the builder skips its count()
    assert calls[2][1]["n_rows"] == 500_000


def test_knn_graph_auto_exact_in_broadcast_regime(spark, sf_dir):
    """Every shipped fixture lands in the broadcast regime, where auto
    must emit the exact graph — identical edges to knn_graph."""
    emb = load_table(spark, sf_dir, "embeddings")
    want = {(r.src, r.dst, r.score) for r in ann.knn_graph(emb, k=5).collect()}
    got = {
        (r.src, r.dst, r.score)
        for r in ann.knn_graph_auto(emb, k=5).collect()
    }
    assert got == want


def test_knn_graph_lsh_hints_skip_warmup_actions(monkeypatch, spark, sf_dir):
    """With n_rows and dim supplied, the LSH build must not run the
    count()/first() warm-up jobs (r7 verdict #8)."""
    emb = load_table(spark, sf_dir, "embeddings")

    def boom(*a, **kw):  # pragma: no cover - fails the test if called
        raise AssertionError("warm-up corpus action ran despite hints")

    hinted = emb.select("vec_id", "embedding")
    monkeypatch.setattr(type(hinted), "count", boom)
    monkeypatch.setattr(type(hinted), "first", boom)
    # plan construction alone must succeed without any corpus action
    df = ann.knn_graph_lsh(hinted, k=5, n_tables=2, n_rows=500, dim=64)
    assert [f.name for f in df.schema.fields] == ["src", "dst", "score"]


def test_graph_beam_search_stored_matches_inline(spark, sf_dir):
    """The stored-graph traversal must return value-identical results
    to the fused build+traverse entry: the md5 LSH build is
    deterministic, so a parquet round-trip of the edge table cannot
    change the beam search's outcome (this is what lets
    graph_beam_search_stored share _beam_lsh_oracle_sql verbatim)."""
    from local_vectordb_spark import queries as q

    inline = [
        (r.vec_id, r.score)
        for r in q.graph_beam_search_lsh(spark, sf_dir).collect()
    ]
    stored = [
        (r.vec_id, r.score)
        for r in q.graph_beam_search_stored(spark, sf_dir).collect()
    ]
    assert stored == inline


def test_two_level_supercells_deterministic_and_valid():
    """train_supercells is seeded Lloyd's over the cell centroids:
    same input → same output, every cell mapped, and the uniform
    probe width widens until even the emptiest supercell choice holds
    n_probe member cells (min_supercells_for's guarantee — it is what
    lets the driver-side and distributed probes share one n_super)."""
    cells = [
        [float(i % 7), float((i * 3) % 5), float(i) / 10.0]
        for i in range(24)
    ]
    s1, m1 = ivf.train_supercells(cells, n_super=5)
    s2, m2 = ivf.train_supercells(cells, n_super=5)
    assert s1 == s2 and m1 == m2
    assert len(s1) == 5 and len(m1) == 24
    assert set(m1) <= set(range(5))

    tl = ivf.TwoLevelCentroids(cells, s1, m1)
    assert len(tl) == 24 and list(tl[0]) == cells[0]  # list behavior
    # n_probe larger than any pair of supercells' members forces the
    # width up; it is capped at every supercell
    assert ivf.min_supercells_for(tl, 24, 5) == 5
    assert 2 <= ivf.min_supercells_for(tl, 3, 5) <= 5

    # mismatched mapping is a loud error, not a silent misroute
    import pytest

    with pytest.raises(ValueError, match="cell_to_super"):
        ivf.TwoLevelCentroids(cells, s1, m1[:-1])


def test_two_level_probe_routes_and_full_width_is_exact(spark, sf_dir):
    """probe_clusters on a TwoLevelCentroids index routes
    supercell→cell: the probed set is a subset of the routed
    supercells' members ranked by the SAME L2-tiebreak order as the
    flat probe, and widening the probe to every cell reproduces the
    flat result exactly (the two-level structure changes routing cost,
    never the metric)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _qv(spark, sf_dir)
    _, cells, assignments = ivf.ivf_build(emb, n_clusters=8)
    supers, c2s = ivf.train_supercells(cells, n_super=3)
    tl = ivf.TwoLevelCentroids(cells, supers, c2s)

    probed = ivf.probe_clusters(tl, qv, n_probe=3)
    assert len(probed) == 3
    routed_supers = {c2s[i] for i in probed}
    assert len(routed_supers) <= ivf.min_supercells_for(tl, 3, 3)
    # full width = flat exact order
    assert ivf.probe_clusters(tl, qv, n_probe=8) == ivf.probe_clusters(
        list(cells), qv, n_probe=8
    )


def test_two_level_batch_table_matches_driver_probe(spark, sf_dir):
    """ivf_search_batch_table's distributed two-level probe must rank
    identically to the driver-side probe_clusters_two_level route: the
    batch result for each query equals the single-query ivf_search
    over the same TwoLevelCentroids index."""
    emb = load_table(spark, sf_dir, "embeddings")
    _, cells, assignments = ivf.ivf_build(emb, n_clusters=8)
    supers, c2s = ivf.train_supercells(cells, n_super=3)
    tl = ivf.TwoLevelCentroids(cells, supers, c2s)

    qvecs = [(i, _qv(spark, sf_dir, vid=i)) for i in (0, 5, 11)]
    qdf = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in qvecs],
        "query_id long, qv array<double>",
    )
    batch = ivf.ivf_search_batch_table(
        emb, assignments, tl, qdf, k=5, n_probe=3
    ).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r.query_id, []).append((r.vec_id, r.score))
    for qid, qv in qvecs:
        single = [
            (r.vec_id, r.score)
            for r in ivf.ivf_search(
                emb, assignments, tl, qv, k=5, n_probe=3
            ).collect()
        ]
        assert sorted(by_q[qid]) == sorted(single), f"query {qid} diverged"
