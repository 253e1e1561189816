"""End-to-end facade test mirroring the reference's e2e flow
(/root/reference/tests/e2e.py: reset -> create library -> one document
+ one chunk per question -> kNN query), with the deterministic hashed
embedder standing in for the Cohere call so no network is needed."""

from __future__ import annotations

import uuid

import pytest

from local_vectordb_spark.api import (
    _STRATEGIES,
    INDEX_TYPES,
    ConcurrentWriteError,
    VectorDB,
)
from local_vectordb_spark.sources.json_records import SCHEMAS

# strategy capabilities, read from the dispatch table itself; `auto`
# resolves to a strategy with both batch forms
BATCH_TYPES = [n for n, st in _STRATEGIES.items() if st.driver_batch] + ["auto"]
TABLE_TYPES = [n for n, st in _STRATEGIES.items() if st.table_batch] + ["auto"]
SINGLE_ONLY = [n for n, st in _STRATEGIES.items() if st.driver_batch is None]
DRIVER_ONLY = [
    n for n, st in _STRATEGIES.items()
    if st.driver_batch is not None and st.table_batch is None
]

QUESTIONS = [
    "What is the capital of Germany ?",
    "How far is it from Denver to Aspen ?",
    "What county is Modesto , California in ?",
    "Who was Galileo ?",
    "What is an atom ?",
    "When did Hawaii become a state ?",
    "How tall is the Sears Building ?",
    "George Bush purchased a small interest in which baseball team ?",
    "What is Australia 's national flower ?",
    "Why does the moon turn orange ?",
]


@pytest.fixture(scope="module")
def db(spark, tmp_path_factory):
    d = VectorDB(spark, str(tmp_path_factory.mktemp("vdb")))
    d.reset()

    lib_id = str(uuid.uuid4())
    d.add(
        "libraries",
        spark.createDataFrame(
            [(lib_id, {"source": "trec"}, None, None, "questions")],
            SCHEMAS["libraries"],
        ),
    )
    doc_ids = [str(uuid.uuid4()) for _ in QUESTIONS]
    d.add(
        "documents",
        spark.createDataFrame(
            [
                (doc_id, {"row": str(i)}, None, None, f"q{i}", lib_id)
                for i, doc_id in enumerate(doc_ids)
            ],
            SCHEMAS["documents"],
        ),
    )
    chunk_ids = [str(uuid.uuid4()) for _ in QUESTIONS]
    d.add(
        "chunks",
        spark.createDataFrame(
            [
                (cid, {"label": "trec", "row": str(i)}, None, None, q, None, doc_id)
                for i, (cid, q, doc_id) in enumerate(
                    zip(chunk_ids, QUESTIONS, doc_ids)
                )
            ],
            SCHEMAS["chunks"],
        ),
    )
    return d, lib_id, doc_ids, chunk_ids


def test_seed_counts(db):
    d, *_ = db
    assert d.table("libraries").count() == 1
    assert d.table("documents").count() == 10
    assert d.table("chunks").count() == 10


def test_embeddings_filled_on_create(db):
    d, *_ = db
    assert d.table("chunks").filter("embedding IS NULL").count() == 0


@pytest.mark.parametrize("index_type", INDEX_TYPES)
def test_query_each_strategy_finds_exact_match(db, index_type):
    d, *_ = db
    hits = d.search(QUESTIONS[0], index_type=index_type, k=3).collect()
    assert hits, index_type
    top = max(hits, key=lambda r: r.score)
    assert top.content == QUESTIONS[0]
    if index_type != "hybrid":  # hybrid's score is RRF, not cosine
        assert top.score == pytest.approx(1.0, abs=1e-5)


@pytest.mark.parametrize("index_type", BATCH_TYPES)
def test_search_batch_each_strategy(db, index_type):
    """search_batch must find each query's exact-match chunk in one
    job, per strategy, with results tagged by query_id."""
    d, *_ = db
    qids = [0, 4, 7]
    hits = d.search_batch(
        queries=[(i, QUESTIONS[i]) for i in qids], index_type=index_type, k=3
    ).collect()
    by_q = {}
    for r in hits:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == set(qids), index_type
    for i in qids:
        top = max(by_q[i], key=lambda r: r.score)
        assert top.content == QUESTIONS[i]
        assert top.score == pytest.approx(1.0, abs=1e-5)


def test_unknown_index_raises(db):
    d, *_ = db
    with pytest.raises(ValueError):
        d.search("anything", index_type="hnsw")


def test_hybrid_search_finds_exact_match(db):
    """RRF fusion: the chunk equal to the query ranks first on BOTH the
    BM25 and cosine sides, so it must top the fused list (the rrf score
    itself is ~1/61+1/61, not ~1.0)."""
    d, *_ = db
    hits = d.search(QUESTIONS[0], index_type="hybrid", k=3).collect()
    assert len(hits) == 3
    top = max(hits, key=lambda r: r.score)
    assert top.content == QUESTIONS[0]
    assert top.score == pytest.approx(2 / 61, abs=1e-4)


def test_hybrid_requires_query_text(db):
    d, *_ = db
    with pytest.raises(ValueError, match="BM25"):
        d.search(query_vec=[0.1] * 16, index_type="hybrid")


def test_mmr_diversify_keeps_exact_match_first(db):
    d, *_ = db
    hits = d.search(QUESTIONS[0], diversify="mmr", k=3).collect()
    assert len(hits) == 3
    top = max(hits, key=lambda r: r.score)
    assert top.content == QUESTIONS[0]
    # first MMR pick scores lam * rel = 0.7 * ~1.0
    assert top.score == pytest.approx(0.7, abs=1e-4)


def test_unknown_diversify_raises(db):
    d, *_ = db
    with pytest.raises(ValueError, match="diversify"):
        d.search("anything", diversify="dpp")


def test_metadata_filter_restricts_results(db):
    d, *_ = db
    hits = d.search(QUESTIONS[0], k=10, metadata={"row": "4"}).collect()
    assert len(hits) == 1 and hits[0].content == QUESTIONS[4]


def test_duplicate_ids_rejected(db, spark):
    d, _, doc_ids, chunk_ids = db
    rejected = d.add(
        "chunks",
        spark.createDataFrame(
            [(chunk_ids[0], {}, None, None, "dup", None, doc_ids[0])],
            SCHEMAS["chunks"],
        ),
    )
    assert rejected.count() == 1
    assert d.table("chunks").count() == 10


def test_fk_violation_rejected_loudly(db, spark):
    """r9 verdict #1: a chunk naming a missing parent document must be
    kept OUT of the table AND reported back — never silently dropped
    (the reference 400s the request, src/main.py:221-232)."""
    d, *_ = db
    orphan_id = str(uuid.uuid4())
    rejected = d.add(
        "chunks",
        spark.createDataFrame(
            [(orphan_id, {}, None, None, "orphan", None, str(uuid.uuid4()))],
            SCHEMAS["chunks"],
        ),
    )
    assert d.table("chunks").filter("content = 'orphan'").count() == 0
    bad = rejected.collect()
    assert [(r.id, r.reject_reason) for r in bad] == [(orphan_id, "missing_parent")]


def test_fk_null_on_insert_rejected(db, spark):
    """On INSERT a null FK is a violation too (every reference create
    route requires the parent id); only update treats null as
    'keep the base parent'."""
    d, *_ = db
    rejected = d.add(
        "chunks",
        spark.createDataFrame(
            [(str(uuid.uuid4()), {}, None, None, "no-parent", None, None)],
            SCHEMAS["chunks"],
        ),
    )
    assert rejected.count() == 1
    assert rejected.collect()[0].reject_reason == "missing_parent"
    assert d.table("chunks").filter("content = 'no-parent'").count() == 0


def test_add_strict_raises_on_any_rejection(db, spark):
    """add_strict is the reference's request-level 400: any rejected
    row raises, naming the offending ids and reasons."""
    d, *_ = db
    with pytest.raises(ValueError, match="missing_parent"):
        d.add_strict(
            "chunks",
            spark.createDataFrame(
                [
                    (
                        str(uuid.uuid4()),
                        {},
                        None,
                        None,
                        "strict-orphan",
                        None,
                        str(uuid.uuid4()),
                    )
                ],
                SCHEMAS["chunks"],
            ),
        )


def test_update_fk_violation_rejected_loudly(db, spark):
    """An UPDATE retargeting a chunk at a nonexistent parent must
    reject that row (reported, not applied, not dropped silently);
    the base row keeps its original parent."""
    d, _, _, chunk_ids = db
    cid = chunk_ids[2]
    before = d.get("chunks", cid).collect()[0]
    rejected = d.update(
        "chunks",
        spark.createDataFrame(
            [(cid, None, None, None, None, None, str(uuid.uuid4()))],
            SCHEMAS["chunks"],
        ),
    )
    assert [(r.id, r.reject_reason) for r in rejected.collect()] == [
        (cid, "missing_parent")
    ]
    after = d.get("chunks", cid).collect()[0]
    assert after.document_id == before.document_id


def test_update_reembeds_changed_content(db, spark):
    d, _, _, chunk_ids = db
    cid = chunk_ids[1]
    before = d.get("chunks", cid).collect()[0]
    d.update(
        "chunks",
        spark.createDataFrame(
            [(cid, None, None, None, "completely new content", None, None)],
            SCHEMAS["chunks"],
        ),
    )
    after = d.get("chunks", cid).collect()[0]
    assert after.content == "completely new content"
    assert list(after.embedding) != list(before.embedding)
    assert after.created_at == before.created_at
    assert after.updated_at >= before.updated_at
    # non-null fields preserved from base
    assert after.document_id == before.document_id


def test_cascade_delete_library_removes_all(db, spark):
    d, lib_id, *_ = db
    d.delete("libraries", spark.createDataFrame([(lib_id,)], "id string"))
    assert d.table("libraries").count() == 0
    assert d.table("documents").count() == 0
    assert d.table("chunks").count() == 0


def test_ivf_cache_not_poisoned_by_metadata_filter(db, spark):
    """ADVICE r1: a first ivf search WITH a metadata filter must not
    restrict later unfiltered ivf searches (index is built from the
    unfiltered table; the filter applies to candidates only).

    Seeds its own corpus — the cascade-delete test above empties the
    module-scoped store."""
    d, _, _, _ = db
    lib_id = str(uuid.uuid4())
    d.add(
        "libraries",
        spark.createDataFrame(
            [(lib_id, {}, None, None, "reseed")], SCHEMAS["libraries"]
        ),
    )
    doc_id = str(uuid.uuid4())
    d.add(
        "documents",
        spark.createDataFrame(
            [(doc_id, {}, None, None, "d", lib_id)], SCHEMAS["documents"]
        ),
    )
    d.add(
        "chunks",
        spark.createDataFrame(
            [
                (str(uuid.uuid4()), {"row": str(i)}, None, None, q, None, doc_id)
                for i, q in enumerate(QUESTIONS)
            ],
            SCHEMAS["chunks"],
        ),
    )
    d._ivf = None  # force a rebuild inside this test
    d.search(QUESTIONS[3], index_type="ivf", k=3, metadata={"row": "3"})
    hits = d.search(QUESTIONS[7], index_type="ivf", k=10).collect()
    assert any(r.content == QUESTIONS[7] for r in hits)


def test_crash_between_write_and_commit_preserves_table(db, spark):
    """r1 verdict #5: a crash after the new version's data is written
    but BEFORE the pointer commit must leave the old table fully
    readable (the old double-overwrite could destroy the live copy)."""
    d, *_ = db
    before = {r.id for r in d.table("libraries").select("id").collect()}
    assert before  # something to lose

    orig = d._commit_pointer

    def crash(kind, version):
        raise RuntimeError("simulated crash before commit")

    d._commit_pointer = crash
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            d.add(
                "libraries",
                spark.createDataFrame(
                    [(str(uuid.uuid4()), {}, None, None, "doomed")],
                    SCHEMAS["libraries"],
                ),
            )
    finally:
        d._commit_pointer = orig

    after = {r.id for r in d.table("libraries").select("id").collect()}
    assert after == before  # uncommitted write invisible, nothing lost

    # and the store still accepts writes afterwards
    new_id = str(uuid.uuid4())
    d.add(
        "libraries",
        spark.createDataFrame(
            [(new_id, {}, None, None, "post-crash")], SCHEMAS["libraries"]
        ),
    )
    assert new_id in {r.id for r in d.table("libraries").select("id").collect()}


def _lib_row(spark, name):
    return spark.createDataFrame(
        [(str(uuid.uuid4()), {}, None, None, name)], SCHEMAS["libraries"]
    )


def test_two_interleaved_writers_one_wins_one_raises(spark, tmp_path):
    """r2 verdict #7: two writers whose merges start from the same
    snapshot must not silently race — the slower one raises
    ConcurrentWriteError (its merge would drop the winner's rows) and
    succeeds on retry from the fresh snapshot."""
    a = VectorDB(spark, str(tmp_path))
    b = VectorDB(spark, str(tmp_path))
    a.add("libraries", _lib_row(spark, "seed"))

    # Both read the same snapshot version, then A commits first.
    v = b._current_version("libraries")
    a.add("libraries", _lib_row(spark, "from-a"))
    with pytest.raises(ConcurrentWriteError):
        b._write(
            "libraries",
            b.table("libraries").unionByName(_lib_row(spark, "from-b")),
            expected_version=v,
        )
    names = {r.name for r in a.table("libraries").collect()}
    assert names == {"seed", "from-a"}  # loser changed nothing

    # Retry from the fresh snapshot succeeds and loses no rows.
    b.add("libraries", _lib_row(spark, "from-b"))
    names = {r.name for r in a.table("libraries").collect()}
    assert names == {"seed", "from-a", "from-b"}


def test_write_lock_held_blocks_second_writer(spark, tmp_path):
    """A writer arriving while another holds the table's commit lock
    fails loudly (never silently races), and succeeds once the lock is
    released; its failed attempt leaves no staging debris."""
    import fcntl
    import os

    d = VectorDB(spark, str(tmp_path))
    d.add("libraries", _lib_row(spark, "seed"))
    tdir = d._table_dir("libraries")

    holder = os.open(os.path.join(tdir, "_WRITE.lock"), os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(holder, fcntl.LOCK_EX | fcntl.LOCK_NB)
        with pytest.raises(ConcurrentWriteError, match="table lock"):
            d.add("libraries", _lib_row(spark, "blocked"))
    finally:
        os.close(holder)

    names = {r.name for r in d.table("libraries").collect()}
    assert names == {"seed"}
    assert not [e for e in os.listdir(tdir) if e.startswith("_stage_")]

    d.add("libraries", _lib_row(spark, "after-release"))
    names = {r.name for r in d.table("libraries").collect()}
    assert names == {"seed", "after-release"}


def test_keep_versions_retention(spark, tmp_path):
    """r2 ADVICE: retention is configurable — keep_versions=3 preserves
    a reader's lazy plan across TWO subsequent writes."""
    d = VectorDB(spark, str(tmp_path), keep_versions=3)
    d.add("libraries", _lib_row(spark, "v0"))
    old = d.table("libraries")  # lazy plan over the first version
    d.add("libraries", _lib_row(spark, "v1"))
    d.add("libraries", _lib_row(spark, "v2"))
    # two writes later the old snapshot is still fully readable
    assert old.count() == 1
    # but with the default keep_versions=2 the same pattern would have
    # GC'd it: verify the directory count honors the policy
    import os

    vdirs = [
        e
        for e in os.listdir(d._table_dir("libraries"))
        if e.startswith("v") and e[1:].isdigit()
    ]
    assert len(vdirs) == 3


@pytest.mark.parametrize("index_type", TABLE_TYPES)
def test_search_batch_table_path_matches_driver_path(db, index_type):
    """A query set just over the driver bound must route through the
    distributed table path and return exactly what the driver path
    returns for the same queries."""
    d, *_ = db
    qids = [0, 4, 7]
    qs = [(i, QUESTIONS[i]) for i in qids]
    driver = d.search_batch(queries=qs, index_type=index_type, k=3)
    table = d.search_batch(
        queries=qs, index_type=index_type, k=3, max_driver_queries=0
    )
    assert sorted(map(tuple, driver.collect())) == sorted(
        map(tuple, table.collect())
    )


def test_search_batch_10k_queries_distributed(db):
    """10k queries exceed the driver bound: the batch must run via the
    distributed query-table path (no per-query driver state) and return
    k hits for every query."""
    d, *_ = db
    n, k = 10_000, 2
    qs = [(i, QUESTIONS[i % len(QUESTIONS)]) for i in range(n)]
    out = d.search_batch(queries=qs, index_type="cosine", k=k)
    rows = out.groupBy("query_id").count().collect()
    assert len(rows) == n
    assert all(r["count"] == k for r in rows)
    # spot check: each query's top hit is its exact-match chunk
    top = {
        r.query_id: r.content
        for r in out.collect()
        if r.score > 0.99999
    }
    for qid in (0, 5000, 9999):
        assert top[qid] == QUESTIONS[qid % len(QUESTIONS)]


def test_search_batch_nsw_rejects_oversized_set(db):
    """Strategies without a table-batch form (nsw: pooled LSH
    candidates are per-query driver work) refuse a set past the driver
    bound and still serve one within it."""
    d, *_ = db
    assert DRIVER_ONLY == ["nsw"]
    for t in DRIVER_ONLY:
        with pytest.raises(ValueError, match="does not scale"):
            d.search_batch(
                queries=[(i, "x") for i in range(3)],
                index_type=t,
                max_driver_queries=2,
            )
        assert d.search_batch(
            queries=[(0, QUESTIONS[0])], index_type=t, k=1,
            max_driver_queries=2,
        ).count() == 1


def test_search_batch_rejects_single_query_strategies(db):
    """Strategies without a batch form (hybrid, pq) must raise on both
    the driver and the table path, not fall through to another
    strategy's batch form."""
    d, *_ = db
    assert SINGLE_ONLY == ["hybrid", "pq"]
    for bad in SINGLE_ONLY:
        for mdq in (1024, 0):
            with pytest.raises(ValueError, match="single-query only"):
                d.search_batch(
                    queries=[(0, "anything")], index_type=bad, k=2,
                    max_driver_queries=mdq,
                )


def test_search_batch_rejects_single_query_types_before_embedding(db, monkeypatch):
    """The capability refusals fire up front — before any embedding
    runs, on the driver or distributed (a late check burned an embed
    job just to raise)."""
    d, *_ = db

    def no_embedding(*_a, **_k):
        raise AssertionError("embedding ran before the refusal")

    monkeypatch.setattr(d, "_embed_texts", no_embedding)
    monkeypatch.setattr(d, "embedder", no_embedding)
    for t in SINGLE_ONLY:
        with pytest.raises(ValueError, match="single-query only"):
            d.search_batch(queries=[(0, "q")], index_type=t)
    for t in DRIVER_ONLY:
        with pytest.raises(ValueError, match="does not scale"):
            d.search_batch(
                queries=[(0, "q")], index_type=t, max_driver_queries=0
            )


def test_search_batch_sign_matches_cosine_hits(db):
    """The batch sign strategy: every returned hit must also be the
    exact cosine answer when it survives the probe, and each query's
    own chunk (score 1.0) always lands in its own bucket."""
    d, *_ = db
    qids = [0, 1]
    res = d.search_batch(
        queries=[(i, QUESTIONS[i]) for i in qids], index_type="sign", k=3
    ).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r.query_id, []).append(r)
    for i in qids:
        top = max(by_q[i], key=lambda r: r.score)
        assert top.content == QUESTIONS[i]
        assert top.score == pytest.approx(1.0, abs=1e-5)


def test_auto_strategy_dispatches_on_corpus_size(db, monkeypatch):
    """index_type='auto' is the search twin of ann.knn_graph_auto:
    brute force at fixture scale (results == the cosine strategy), the
    sign-pruned tier once the corpus passes AUTO_BRUTE_MAX — and the
    sizing count is cached per table version, so repeated auto searches
    run zero extra count jobs."""
    from local_vectordb_spark import api as api_mod

    d, *_ = db
    want = [(r.id, r.score) for r in d.search(QUESTIONS[1], index_type="cosine", k=3).collect()]
    got = [(r.id, r.score) for r in d.search(QUESTIONS[1], index_type="auto", k=3).collect()]
    assert got == want

    # past the knee the dispatch must flip to the sign tier: with the
    # knee forced to 0 rows, auto == sign (which prunes to the probed
    # buckets and can legitimately differ from brute force)
    monkeypatch.setattr(api_mod, "AUTO_BRUTE_MAX", 0)
    want_sign = [(r.id, r.score) for r in d.search(QUESTIONS[1], index_type="sign", k=3).collect()]
    got_sign = [(r.id, r.score) for r in d.search(QUESTIONS[1], index_type="auto", k=3).collect()]
    assert got_sign == want_sign

    # version-cached sizing: a second auto search must not re-count
    calls = []
    real_count = type(d.table("chunks")).count
    monkeypatch.setattr(type(d.table("chunks")), "count", lambda s: calls.append(1) or real_count(s))
    d.search(QUESTIONS[1], index_type="auto", k=3)
    assert not calls


def test_time_travel_search_pins_scan_artifacts_and_dispatch(spark, tmp_path):
    """r12: search(version=N) is time-travel SEARCH — the scan, the
    per-version stored index artifacts (built on demand from the
    pinned snapshot if that generation never built them), and the
    hydration all serve the retained generation. A deleted chunk is
    findable at its pre-delete version through EVERY strategy that has
    a stored artifact (cosine, ivf, nsw, sign), invisible live; bad
    versions raise like table()."""
    import os

    d = VectorDB(spark, str(tmp_path), keep_versions=4)
    lib, doc = str(uuid.uuid4()), str(uuid.uuid4())
    d.add("libraries", spark.createDataFrame(
        [(lib, {}, None, None, "l")], SCHEMAS["libraries"]))
    d.add("documents", spark.createDataFrame(
        [(doc, {}, None, None, "d", lib)], SCHEMAS["documents"]))
    d.add("chunks", spark.createDataFrame(
        [(f"c{i}", {}, None, None, q, None, doc)
         for i, q in enumerate(QUESTIONS)],
        SCHEMAS["chunks"]))
    pre_v = d._current_version("chunks")
    doomed = QUESTIONS[3]

    d.delete("chunks", spark.createDataFrame([("c3",)], "id string"))
    # live: gone
    live_hits = d.search(doomed, k=3).collect()
    assert all(r.content != doomed for r in live_hits)
    # pinned: back, top-1, via the plain scan AND every stored-artifact
    # strategy (each builds its per-version artifact on demand)
    for strat in ("cosine", "ivf", "nsw", "sign"):
        hits = d.search(doomed, index_type=strat, k=3, version=pre_v).collect()
        assert max(hits, key=lambda r: r.score).content == doomed, strat
    for art in (f"_ivf_v{pre_v}", f"_nsw_v{pre_v}", f"_sign_v{pre_v}"):
        assert os.path.exists(
            os.path.join(d._table_dir("chunks"), art, "_SUCCESS")
        ), art

    # auto dispatch counts the PINNED generation, and the pinned count
    # cache is keyed by version (no invalidation churn)
    assert d._chunk_count(version=pre_v) == len(QUESTIONS)
    assert d._chunk_count() == len(QUESTIONS) - 1
    hits = d.search(doomed, index_type="auto", k=3, version=pre_v).collect()
    assert max(hits, key=lambda r: r.score).content == doomed

    # bad versions raise like table(): negative, future, GC'd
    with pytest.raises(ValueError, match="not available"):
        d.search(doomed, k=3, version=-1)
    with pytest.raises(ValueError, match="not available"):
        d.search(doomed, k=3, version=pre_v + 99)

    # batch takes the same pin, on BOTH the driver path and the
    # distributed table path (max_driver_queries=0 forces the latter)
    for mdq in (1024, 0):
        got = d.search_batch(
            queries=[(7, doomed)], k=3, version=pre_v,
            max_driver_queries=mdq,
        ).collect()
        best = max((r for r in got if r.query_id == 7),
                   key=lambda r: r.score)
        assert best.content == doomed, f"max_driver_queries={mdq}"
    live_batch = d.search_batch(queries=[(7, doomed)], k=3).collect()
    assert all(r.content != doomed for r in live_batch)
    with pytest.raises(ValueError, match="not available"):
        d.search_batch(queries=[(7, doomed)], k=3, version=-1)


def test_time_travel_reads_retained_version_and_rejects_gcd(spark, tmp_path):
    """table(kind, version=N) reads a retained historical generation
    (the versioned layout exists precisely for snapshot pinning);
    asking for a GC'd or never-written generation raises instead of
    silently serving the wrong data."""
    d = VectorDB(spark, str(tmp_path), keep_versions=2)
    d.add("libraries", _lib_row(spark, "v0"))
    d.add("libraries", _lib_row(spark, "v1"))
    live = d._current_version("libraries")
    prev = live - 1
    assert d.table("libraries", version=prev).count() == 1
    assert d.table("libraries", version=live).count() == 2
    d.add("libraries", _lib_row(spark, "v2"))  # GCs `prev`
    with pytest.raises(ValueError, match="not available"):
        d.table("libraries", version=prev)
    with pytest.raises(ValueError, match="not available"):
        d.table("libraries", version=live + 99)


def test_auto_count_cache_invalidated_by_other_instance(db, spark):
    """The auto-dispatch sizing cache is keyed on the ON-DISK table
    version (r8 ADVICE): a write committed by ANOTHER VectorDB instance
    through the shared _CURRENT pointer must refresh this instance's
    cached corpus count — the in-process write counter alone would
    serve a stale size forever.

    Seeds its own parent document: the module fixture's doc_ids were
    cascade-deleted earlier, and FK-violating inserts are (correctly)
    rejected — the r9 suite failure was exactly this stale-id read."""
    d, *_ = db
    other = VectorDB(spark, d.root)  # second writer, same store
    lib_id = str(uuid.uuid4())
    other.add(
        "libraries",
        spark.createDataFrame(
            [(lib_id, {}, None, None, "xinst-lib")], SCHEMAS["libraries"]
        ),
    )
    doc_id = str(uuid.uuid4())
    other.add(
        "documents",
        spark.createDataFrame(
            [(doc_id, {}, None, None, "xinst-doc", lib_id)], SCHEMAS["documents"]
        ),
    )
    n0 = d._chunk_count()
    rejected = other.add(
        "chunks",
        spark.createDataFrame(
            [
                (str(uuid.uuid4()), {}, None, None, f"xinst {i}", None, doc_id)
                for i in range(3)
            ],
            SCHEMAS["chunks"],
        ),
    )
    assert rejected.count() == 0  # all three inserted, none rejected
    assert d._chunk_count() == n0 + 3


def test_ivf_index_invalidated_by_other_instance(db, spark):
    """r9 ADVICE: the cached IVF index must be keyed on the ON-DISK
    version like the count cache — a chunk committed by another
    instance must be findable through THIS instance's ivf search, not
    filtered out by a stale cached candidate assignment table."""
    d, *_ = db
    d.search(QUESTIONS[0], index_type="ivf", k=3)  # warm the cache
    other = VectorDB(spark, d.root)
    lib_id = str(uuid.uuid4())
    other.add(
        "libraries",
        spark.createDataFrame(
            [(lib_id, {}, None, None, "ivf-inval-lib")], SCHEMAS["libraries"]
        ),
    )
    doc_id = str(uuid.uuid4())
    other.add(
        "documents",
        spark.createDataFrame(
            [(doc_id, {}, None, None, "ivf-inval-doc", lib_id)],
            SCHEMAS["documents"],
        ),
    )
    marker = "zyxw unique ivf invalidation probe"
    other.add(
        "chunks",
        spark.createDataFrame(
            [(str(uuid.uuid4()), {}, None, None, marker, None, doc_id)],
            SCHEMAS["chunks"],
        ),
    )
    hits = d.search(marker, index_type="ivf", k=3).collect()
    top = max(hits, key=lambda r: r.score)
    assert top.content == marker
    assert top.score == pytest.approx(1.0, abs=1e-5)


def test_materialize_once_cleans_tmp_on_failure_and_serves_race_winner(tmp_path):
    """A crashing write_fn must propagate AND leave no tmp directory
    behind (repeated failures otherwise accumulate full Spark output
    dirs in the tempdir); losing the rename race to a completed
    concurrent builder must serve the winner's directory (r8 ADVICE)."""
    import os
    import pathlib

    from local_vectordb_spark.session import materialize_once

    dest = str(tmp_path / "cache")

    def boom(p):
        os.makedirs(p)
        (tmp_path / "cache.tmp-was-created").touch()
        raise RuntimeError("writer crashed")

    with pytest.raises(RuntimeError, match="writer crashed"):
        materialize_once(dest, boom)
    assert not os.path.exists(dest)
    leftovers = [e for e in os.listdir(tmp_path) if e.startswith("cache.tmp.")]
    assert leftovers == []

    def lose_race(p):
        os.makedirs(p)
        (pathlib.Path(p) / "part-0").write_text("mine")
        # a concurrent builder completes the destination first
        os.makedirs(dest)
        (pathlib.Path(dest) / "part-0").write_text("winner")
        (pathlib.Path(dest) / "_SUCCESS").touch()

    got = materialize_once(dest, lose_race)
    assert got == dest
    assert (pathlib.Path(dest) / "part-0").read_text() == "winner"
    leftovers = [e for e in os.listdir(tmp_path) if e.startswith("cache.tmp.")]
    assert leftovers == []


def test_materialize_once_concurrent_threads_share_one_result(tmp_path):
    """Two threads of one process cold-building the same cache path
    (two HTTP handlers' first searches) each stage in their own
    sibling directory; both return the complete destination and no
    staging directory is left behind."""
    import os
    import pathlib
    import threading

    from local_vectordb_spark.session import materialize_once

    dest = str(tmp_path / "cache")
    both_writing = threading.Barrier(2, timeout=30)

    def write(p):
        os.makedirs(p)
        both_writing.wait()  # each writer is mid-write when the other starts
        (pathlib.Path(p) / "part-0").write_text("rows")
        (pathlib.Path(p) / "_SUCCESS").touch()

    got, errors = [], []

    def build():
        try:
            got.append(materialize_once(dest, write))
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=build) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
        assert not t.is_alive()
    assert errors == []
    assert got == [dest, dest]
    assert (pathlib.Path(dest) / "part-0").read_text() == "rows"
    assert (pathlib.Path(dest) / "_SUCCESS").exists()
    assert os.listdir(tmp_path) == ["cache"]


def test_search_batch_auto_dispatches_on_corpus_size(db, monkeypatch):
    """search_batch(index_type='auto') is the batch twin of the single
    search's size dispatch: brute-force results at fixture scale, the
    sign tier once the corpus passes the (monkeypatched) knee — and the
    resolved strategy must keep composing with the distributed table
    path."""
    from local_vectordb_spark import api as api_mod

    d, *_ = db
    qids = [0, 4]
    qs = [(i, QUESTIONS[i]) for i in qids]
    want = sorted(map(tuple, d.search_batch(queries=qs, index_type="cosine", k=3).collect()))
    got = sorted(map(tuple, d.search_batch(queries=qs, index_type="auto", k=3).collect()))
    assert got == want

    monkeypatch.setattr(api_mod, "AUTO_BRUTE_MAX", 0)
    want_sign = sorted(map(tuple, d.search_batch(queries=qs, index_type="sign", k=3).collect()))
    got_sign = sorted(map(tuple, d.search_batch(queries=qs, index_type="auto", k=3).collect()))
    assert got_sign == want_sign

    # auto + table path (max_driver_queries=0 forces it)
    got_table = sorted(map(tuple, d.search_batch(
        queries=qs, index_type="auto", k=3, max_driver_queries=0
    ).collect()))
    assert got_table == want_sign


def test_ivf_index_persisted_and_reused_across_instances(spark, tmp_path):
    """r10: the IVF index is a stored artifact per table version —
    instance B searching the same store at the same version must REUSE
    instance A's persisted centroids+assignments (zero KMeans retrains:
    train-once/serve-many), and a new commit must version a new
    artifact while GC drops the old one with its table version."""
    import os

    from local_vectordb_spark.operators import ivf as ivf_mod

    a = VectorDB(spark, str(tmp_path))
    lib = str(uuid.uuid4())
    a.add("libraries", spark.createDataFrame(
        [(lib, {}, None, None, "l")], SCHEMAS["libraries"]))
    doc = str(uuid.uuid4())
    a.add("documents", spark.createDataFrame(
        [(doc, {}, None, None, "d", lib)], SCHEMAS["documents"]))
    a.add("chunks", spark.createDataFrame(
        [(str(uuid.uuid4()), {}, None, None, q, None, doc) for q in QUESTIONS],
        SCHEMAS["chunks"]))
    a.search(QUESTIONS[0], index_type="ivf", k=3).collect()
    v = a._current_version("chunks")
    art = os.path.join(a._table_dir("chunks"), f"_ivf_v{v}")
    assert os.path.exists(os.path.join(art, "_SUCCESS"))

    calls = []
    orig = ivf_mod.ivf_build

    def counting(*args, **kwargs):
        calls.append(1)
        return orig(*args, **kwargs)

    b = VectorDB(spark, a.root)
    try:
        ivf_mod.ivf_build = counting
        hits = b.search(QUESTIONS[2], index_type="ivf", k=3).collect()
    finally:
        ivf_mod.ivf_build = orig
    assert not calls, "second instance retrained instead of reusing"
    assert max(hits, key=lambda r: r.score).content == QUESTIONS[2]

    # a new commit versions a new artifact; old one GC'd with its table
    b.add("chunks", spark.createDataFrame(
        [(str(uuid.uuid4()), {}, None, None, "new row", None, doc)],
        SCHEMAS["chunks"]))
    b.add("chunks", spark.createDataFrame(
        [(str(uuid.uuid4()), {}, None, None, "newer row", None, doc)],
        SCHEMAS["chunks"]))
    b.search(QUESTIONS[1], index_type="ivf", k=3).collect()
    v2 = b._current_version("chunks")
    assert v2 > v
    assert os.path.exists(
        os.path.join(b._table_dir("chunks"), f"_ivf_v{v2}", "_SUCCESS")
    )
    assert not os.path.exists(art)  # rode the keep_versions GC


def test_nsw_graph_persisted_and_metadata_filter_falls_back(spark, tmp_path):
    """r10: the nsw strategy traverses the PERSISTED per-version kNN
    graph (artifact exists; a second instance reuses it with zero graph
    builds), while a metadata-filtered nsw search uses the LSH
    candidate form (the stored graph indexes the unfiltered corpus) and
    still respects the filter."""
    import os

    from local_vectordb_spark.operators import knn as knn_mod

    d = VectorDB(spark, str(tmp_path))
    lib, doc = str(uuid.uuid4()), str(uuid.uuid4())
    d.add("libraries", spark.createDataFrame(
        [(lib, {}, None, None, "l")], SCHEMAS["libraries"]))
    d.add("documents", spark.createDataFrame(
        [(doc, {}, None, None, "d", lib)], SCHEMAS["documents"]))
    d.add("chunks", spark.createDataFrame(
        [
            (str(uuid.uuid4()), {"row": str(i)}, None, None, q, None, doc)
            for i, q in enumerate(QUESTIONS)
        ],
        SCHEMAS["chunks"]))

    hits = d.search(QUESTIONS[3], index_type="nsw", k=3).collect()
    top = max(hits, key=lambda r: r.score)
    assert top.content == QUESTIONS[3]
    v = d._current_version("chunks")
    art = os.path.join(d._table_dir("chunks"), f"_nsw_v{v}")
    assert os.path.exists(os.path.join(art, "_SUCCESS"))

    calls = []
    orig = knn_mod.knn_batch_table

    def counting(*args, **kwargs):
        calls.append(1)
        return orig(*args, **kwargs)

    other = VectorDB(spark, d.root)
    try:
        knn_mod.knn_batch_table = counting
        hits2 = other.search(QUESTIONS[5], index_type="nsw", k=3).collect()
    finally:
        knn_mod.knn_batch_table = orig
    assert not calls, "second instance rebuilt the graph instead of reusing"
    assert max(hits2, key=lambda r: r.score).content == QUESTIONS[5]

    # filtered nsw: LSH fallback, filter respected
    got = d.search(QUESTIONS[0], index_type="nsw", k=10, metadata={"row": "4"}).collect()
    assert len(got) == 1 and got[0].content == QUESTIONS[4]


def test_nsw_stored_build_dispatches_to_lsh_past_knee(spark, tmp_path, monkeypatch):
    """r10 verdict #1: past NSW_EXACT_BUILD_MAX rows the persisted
    graph must be built by the LSH-bucketed tier (sub-all-pairs), never
    the exact O(n²) knn_batch_table form — pinned here with the knee
    count-stubbed down to 16 so a 30-row store is 'past the knee'. The
    sign-seeded traversal over the LSH graph still returns the planted
    exact twin as the top hit."""
    import os

    from local_vectordb_spark import api as api_mod
    from local_vectordb_spark.operators import ann as ann_mod
    from local_vectordb_spark.operators import knn as knn_mod

    monkeypatch.setattr(api_mod, "NSW_EXACT_BUILD_MAX", 16)

    d = VectorDB(spark, str(tmp_path))
    lib, doc = str(uuid.uuid4()), str(uuid.uuid4())
    d.add("libraries", spark.createDataFrame(
        [(lib, {}, None, None, "l")], SCHEMAS["libraries"]))
    d.add("documents", spark.createDataFrame(
        [(doc, {}, None, None, "d", lib)], SCHEMAS["documents"]))
    texts = [f"{q} (variant {j})" for q in QUESTIONS for j in range(3)]
    d.add("chunks", spark.createDataFrame(
        [(str(uuid.uuid4()), {}, None, None, t, None, doc) for t in texts],
        SCHEMAS["chunks"]))

    lsh_calls, exact_calls = [], []
    orig_lsh, orig_exact = ann_mod.knn_graph_lsh, knn_mod.knn_batch_table

    def spy_lsh(*a, **kw):
        lsh_calls.append(1)
        return orig_lsh(*a, **kw)

    def spy_exact(*a, **kw):
        exact_calls.append(1)
        return orig_exact(*a, **kw)

    monkeypatch.setattr(ann_mod, "knn_graph_lsh", spy_lsh)
    monkeypatch.setattr(knn_mod, "knn_batch_table", spy_exact)
    hits = d.search(texts[7], index_type="nsw", k=3).collect()
    assert lsh_calls, "past-the-knee build did not use the LSH tier"
    assert not exact_calls, "past-the-knee build ran the exact O(n^2) form"
    assert max(hits, key=lambda r: r.score).content == texts[7]

    # artifact is persisted, string-keyed, and non-empty
    v = d._current_version("chunks")
    art = os.path.join(d._table_dir("chunks"), f"_nsw_v{v}")
    assert os.path.exists(os.path.join(art, "_SUCCESS"))
    edges = spark.read.parquet(os.path.join(art, "edges"))
    assert edges.schema["src"].dataType.simpleString() == "string"
    assert edges.count() > 0

    # build-once/serve-many: a second search (same version) re-traverses
    # the stored artifact without invoking either builder again
    lsh_calls.clear()
    hits2 = d.search(texts[4], index_type="nsw", k=3).collect()
    assert not lsh_calls and not exact_calls
    assert max(hits2, key=lambda r: r.score).content == texts[4]


def test_facade_ivf_scales_clusters_and_holds_recall(spark, tmp_path):
    """r10 verdict #5: the persisted IVF index follows the √n cluster
    heuristic (the 16-cell cap is gone) and the paired ~k/8 probe rule
    keeps recall: a query duplicating a stored chunk probes its twin's
    own cell first (nearest centroid = the cell KMeans assigned the
    twin to), so top-1 is exact; recall@10 vs the full scan stays
    above the floor."""
    d = VectorDB(spark, str(tmp_path))
    lib, doc = str(uuid.uuid4()), str(uuid.uuid4())
    d.add("libraries", spark.createDataFrame(
        [(lib, {}, None, None, "l")], SCHEMAS["libraries"]))
    d.add("documents", spark.createDataFrame(
        [(doc, {}, None, None, "d", lib)], SCHEMAS["documents"]))
    texts = [f"{q} rephrased copy number {j}" for q in QUESTIONS for j in range(40)]
    # deterministic ids: KMeans input, probe sets, and top-k tie-breaks
    # are then all run-stable, so the recall floor is a REPRODUCIBLE
    # property of this configuration, not a uuid lottery
    d.add("chunks", spark.createDataFrame(
        [(f"c{i:04d}", {}, None, None, t, None, doc)
         for i, t in enumerate(texts)],
        SCHEMAS["chunks"]))

    centroids, _ = d._ivf_index()
    assert len(centroids) == 20  # isqrt(400) — past the old 16 cap
    assert d._ivf_n_probe(centroids) == 3

    # measured once on this deterministic fixture: overlaps 4/4/7.
    # hashed embeddings are avalanche-random (the IVF-hostile worst
    # case — no cluster structure to exploit), yet 3/20 probed cells
    # (a 15% scan, ~1.5/10 expected for a RANDOM 15% sample) still
    # recovers 4-7 of the true top-10 — centroid locality is doing
    # real work — and the planted twin is always top-1
    total = 0
    for probe_text in (texts[3], texts[177], texts[399]):
        ivf_hits = d.search(probe_text, index_type="ivf", k=10).collect()
        assert max(ivf_hits, key=lambda r: r.score).content == probe_text
        exact_hits = d.search(probe_text, index_type="cosine", k=10).collect()
        overlap = {r.id for r in ivf_hits} & {r.id for r in exact_hits}
        assert len(overlap) >= 4, (
            f"recall@10 vs full scan {len(overlap)/10} below floor"
        )
        total += len(overlap)
    assert total >= 15  # mean recall@10 >= 0.5 across the three probes


def test_facade_ivf_two_level_quantizer_dispatch_and_recall(
    spark, tmp_path, monkeypatch
):
    """r11 verdict #6: past IVF_TWO_LEVEL_MIN_CELLS the persisted IVF
    index carries a supercell level over the cell centroids and probes
    route supercell→cell. Dispatch knee lowered so a 400-row fixture
    crosses it (the production knee is 256 cells ≈ 65k rows); the
    routed search must keep the planted twin at top-1 and hold a
    recall@10 floor against the FULL PROBE of the same stored index
    (n_probe = every cell — exact by construction), the invariant the
    two-level routing must not break."""
    from local_vectordb_spark import api as api_mod
    from local_vectordb_spark.operators import ivf as ivf_mod

    monkeypatch.setattr(api_mod, "IVF_TWO_LEVEL_MIN_CELLS", 8)
    d = VectorDB(spark, str(tmp_path))
    lib, doc = str(uuid.uuid4()), str(uuid.uuid4())
    d.add("libraries", spark.createDataFrame(
        [(lib, {}, None, None, "l")], SCHEMAS["libraries"]))
    d.add("documents", spark.createDataFrame(
        [(doc, {}, None, None, "d", lib)], SCHEMAS["documents"]))
    texts = [f"{q} rephrased copy number {j}" for q in QUESTIONS for j in range(40)]
    d.add("chunks", spark.createDataFrame(
        [(f"c{i:04d}", {}, None, None, t, None, doc)
         for i, t in enumerate(texts)],
        SCHEMAS["chunks"]))

    centroids, assignments = d._ivf_index()
    assert isinstance(centroids, ivf_mod.TwoLevelCentroids)
    assert len(centroids) == 20  # isqrt(400) cells, same as the flat test
    assert len(centroids.supercells) == 4  # isqrt(20)
    assert len(centroids.cell_to_super) == 20
    # the persisted artifact round-trips the second level: a fresh
    # instance reads the SAME structure (no in-memory-only state)
    c2, _ = VectorDB(spark, d.root)._ivf_index()
    assert isinstance(c2, ivf_mod.TwoLevelCentroids)
    assert c2.supercells == centroids.supercells
    assert c2.cell_to_super == centroids.cell_to_super

    # routed vs FULL PROBE over the same stored index (probing every
    # cell = exact): measured once on this deterministic fixture —
    # overlaps 4/4/7 (the same recall the FLAT probe gets on this
    # corpus: two-level routing reached the same nearest cells) with
    # the twin top-1 in all three
    pinned = d.table("chunks")
    total = 0
    for probe_text in (texts[3], texts[177], texts[399]):
        ivf_hits = d.search(probe_text, index_type="ivf", k=10).collect()
        assert max(ivf_hits, key=lambda r: r.score).content == probe_text
        qv = d._embed_texts([probe_text])[0]
        full = ivf_mod.ivf_search(
            pinned, assignments, list(centroids), qv, k=10, id_col="id",
            n_probe=len(centroids),
        ).collect()
        overlap = {r.id for r in ivf_hits} & {r.id for r in full}
        assert len(overlap) >= 4, (
            f"recall@10 vs full probe {len(overlap)/10} below floor"
        )
        total += len(overlap)
    assert total >= 15  # mean recall@10 >= 0.5 across the three probes


def test_search_beam_hops_knobs(spark, tmp_path):
    """r10 ADVICE: beam/hops are exposed on search() and validated —
    they tune only the nsw traversal; hops=0 still answers correctly
    because the frontier is seeded from the query's own sign buckets."""
    d = VectorDB(spark, str(tmp_path))
    lib, doc = str(uuid.uuid4()), str(uuid.uuid4())
    d.add("libraries", spark.createDataFrame(
        [(lib, {}, None, None, "l")], SCHEMAS["libraries"]))
    d.add("documents", spark.createDataFrame(
        [(doc, {}, None, None, "d", lib)], SCHEMAS["documents"]))
    d.add("chunks", spark.createDataFrame(
        [(str(uuid.uuid4()), {}, None, None, q, None, doc) for q in QUESTIONS],
        SCHEMAS["chunks"]))

    with pytest.raises(ValueError, match="nsw"):
        d.search(QUESTIONS[0], index_type="cosine", beam=4)
    with pytest.raises(ValueError, match="nsw"):
        d.search(QUESTIONS[0], index_type="auto", hops=2)
    with pytest.raises(ValueError, match="beam"):
        d.search(QUESTIONS[0], index_type="nsw", beam=0)

    hits = d.search(QUESTIONS[6], index_type="nsw", k=3, beam=4, hops=0).collect()
    assert max(hits, key=lambda r: r.score).content == QUESTIONS[6]
    hits = d.search(QUESTIONS[6], index_type="nsw", k=3, beam=16, hops=4).collect()
    assert max(hits, key=lambda r: r.score).content == QUESTIONS[6]

    # r11 ADVICE: a metadata-filtered nsw search answers with an exact
    # scan, not a traversal — beam/hops there must raise loudly, not
    # silently do nothing to a caller who thinks they are tuning it
    with pytest.raises(ValueError, match="metadata-filtered"):
        d.search(QUESTIONS[0], index_type="nsw", beam=4,
                 metadata={"row": "1"})
    with pytest.raises(ValueError, match="metadata-filtered"):
        d.search(QUESTIONS[0], index_type="nsw", hops=2,
                 metadata={"row": "1"})
    # same contract on a never-written store (no graph artifact exists)
    empty = VectorDB(spark, str(tmp_path / "never_written"))
    with pytest.raises(ValueError, match="never-written"):
        empty.search(query_vec=[0.1] * 8, index_type="nsw", beam=4)


def test_sign_layout_persisted_reused_and_gcd(spark, tmp_path):
    """r11: the sign strategy's bucket-partitioned layout is a
    per-version stored artifact with the same lifecycle as the IVF and
    NSW ones — built once (a second instance serves with zero layout
    builds), re-versioned on commit, GC'd with its table version."""
    import os

    from local_vectordb_spark import api as api_mod

    d = VectorDB(spark, str(tmp_path))
    lib, doc = str(uuid.uuid4()), str(uuid.uuid4())
    d.add("libraries", spark.createDataFrame(
        [(lib, {}, None, None, "l")], SCHEMAS["libraries"]))
    d.add("documents", spark.createDataFrame(
        [(doc, {}, None, None, "d", lib)], SCHEMAS["documents"]))
    d.add("chunks", spark.createDataFrame(
        [(str(uuid.uuid4()), {}, None, None, q, None, doc) for q in QUESTIONS],
        SCHEMAS["chunks"]))

    hits = d.search(QUESTIONS[8], index_type="sign", k=3).collect()
    assert max(hits, key=lambda r: r.score).content == QUESTIONS[8]
    v = d._current_version("chunks")
    art = os.path.join(d._table_dir("chunks"), f"_sign_v{v}")
    assert os.path.exists(os.path.join(art, "_SUCCESS"))

    builds = []
    orig = api_mod.VectorDB._sign_stored

    def counting_build(self, version):
        # count only cold BUILDS: reuse hits materialize_once's
        # already-built path, which never calls the _build closure —
        # so spy one level down, on whether the artifact pre-existed
        builds.append(not os.path.exists(
            os.path.join(self._table_dir("chunks"), f"_sign_v{version}", "_SUCCESS")
        ))
        return orig(self, version)

    other = VectorDB(spark, d.root)
    try:
        api_mod.VectorDB._sign_stored = counting_build
        hits2 = other.search(QUESTIONS[5], index_type="sign", k=3).collect()
    finally:
        api_mod.VectorDB._sign_stored = orig
    assert builds == [False], "second instance rebuilt the sign layout"
    assert max(hits2, key=lambda r: r.score).content == QUESTIONS[5]

    # two commits roll the retention window past v; artifact GC'd with it
    for txt in ("new row", "newer row"):
        d.add("chunks", spark.createDataFrame(
            [(str(uuid.uuid4()), {}, None, None, txt, None, doc)],
            SCHEMAS["chunks"]))
    d.search("new row", index_type="sign", k=3).collect()
    v2 = d._current_version("chunks")
    assert v2 > v
    assert os.path.exists(
        os.path.join(d._table_dir("chunks"), f"_sign_v{v2}", "_SUCCESS"))
    assert not os.path.exists(art)  # rode the keep_versions GC


def test_lsh_graph_edges_collision_check_raises(spark, tmp_path):
    """The stored-graph LSH build maps string ids through xxhash64; a
    hash collision would silently merge two nodes, so the build checks
    distinct-hash count against the row count and raises loudly.
    Forced here with two rows sharing an id (same id -> same hash,
    2 rows, 1 distinct)."""
    d = VectorDB(spark, str(tmp_path))
    dup = spark.createDataFrame(
        [("same-id", [0.1, 0.2]), ("same-id", [0.3, 0.4])],
        "id string, embedding array<float>",
    )
    with pytest.raises(RuntimeError, match="collision"):
        d._lsh_graph_edges(dup, n=2)


def _seed_store(spark, path, texts=None):
    """One library -> one document -> one chunk per text: the minimal
    parent chain the FK validation requires, used by the r13 tests."""
    d = VectorDB(spark, str(path))
    lib, doc = str(uuid.uuid4()), str(uuid.uuid4())
    d.add("libraries", spark.createDataFrame(
        [(lib, {}, None, None, "l")], SCHEMAS["libraries"]))
    d.add("documents", spark.createDataFrame(
        [(doc, {}, None, None, "d", lib)], SCHEMAS["documents"]))
    chunk_ids = [str(uuid.uuid4()) for _ in (texts or QUESTIONS)]
    d.add("chunks", spark.createDataFrame(
        [(cid, {}, None, None, t, None, doc)
         for cid, t in zip(chunk_ids, texts or QUESTIONS)],
        SCHEMAS["chunks"]))
    return d, doc, chunk_ids


def test_nsw_default_beam_dispatches_on_corpus_size(spark, tmp_path, monkeypatch):
    """r12 verdict #5: the measured XL recall knee (beam=8 reads
    recall@10 0.8 at 200k vectors, beam=16 reads 1.0 at no latency
    cost — BENCH_scale.json recall_curve) must set the DEFAULT, not
    live only in BASELINE.md prose. Below NSW_BEAM_KNEE the default
    stays 8 (every fixture-scale oracle unrolls that walk); at/above
    it dispatches to 16; an explicit beam= always wins."""
    import local_vectordb_spark.api as api_mod
    from local_vectordb_spark.operators import ann as ann_mod

    d, _, _ = _seed_store(spark, tmp_path)

    seen: list[int] = []
    orig = ann_mod.graph_beam_search

    def spy(*a, **k):
        seen.append(k["beam"])
        return orig(*a, **k)

    monkeypatch.setattr(ann_mod, "graph_beam_search", spy)

    hits = d.search(QUESTIONS[6], index_type="nsw", k=3).collect()
    assert seen[-1] == 8  # 10-row corpus: below the knee
    assert max(hits, key=lambda r: r.score).content == QUESTIONS[6]

    # past the (lowered) knee the same call dispatches beam=16
    monkeypatch.setattr(api_mod, "NSW_BEAM_KNEE", 5)
    hits = d.search(QUESTIONS[6], index_type="nsw", k=3).collect()
    assert seen[-1] == 16
    assert max(hits, key=lambda r: r.score).content == QUESTIONS[6]

    # explicit beam wins in either regime
    d.search(QUESTIONS[6], index_type="nsw", k=3, beam=4).collect()
    assert seen[-1] == 4


def test_chunk_count_pinned_version_counts_that_snapshot(spark, tmp_path):
    """r12 ADVICE: _chunk_count(version=v) must count generation v's
    OWN snapshot. The old body counted via version=None — a second
    pointer read — so a commit landing between the key read and the
    count stored the newer generation's count under key v permanently
    (versions are never reused, the cache never heals). Cold-cache
    pinned counts expose the bug without needing the race."""
    d, _, chunk_ids = _seed_store(spark, tmp_path)
    v0 = d._current_version("chunks")
    d.delete("chunks", spark.createDataFrame(
        [(cid,) for cid in chunk_ids[:3]], "id string"))
    v1 = d._current_version("chunks")
    assert v1 > v0

    fresh = VectorDB(spark, str(tmp_path))  # cold count cache
    assert fresh._chunk_count(version=v0) == len(chunk_ids)
    assert fresh._chunk_count() == len(chunk_ids) - 3
    # each key holds ITS generation's count
    assert fresh._count_cache[v0] == len(chunk_ids)
    assert fresh._count_cache[v1] == len(chunk_ids) - 3


def test_live_ivf_forms_probe_the_scanned_generation(spark, tmp_path, monkeypatch):
    """Every ivf form reads the index of the generation its scan
    pinned: a commit landing right after a live call's one pointer
    read must not pair the v(N) scan and hydration with v(N+1)
    assignments. Each live call races another instance's delete of
    the query's own exact-match chunk and must equal the same call
    pinned to the generation it read (a cold memo for the first)."""
    texts = [f"note {i} on topic {i % 7}: words {i * 13 % 97}" for i in range(24)]
    a, _, ids = _seed_store(spark, tmp_path, texts)
    b = VectorDB(spark, a.root)
    read = a._current_version
    doomed: list[str] = []

    def racing_read(kind):
        v = read(kind)
        if doomed and kind == "chunks":
            b.delete("chunks", spark.createDataFrame([(doomed.pop(),)], "id string"))
        return v

    monkeypatch.setattr(a, "_current_version", racing_read)
    calls = {
        "search": lambda t, **kw: a.search(t, index_type="ivf", k=3, **kw),
        "driver batch": lambda t, **kw: a.search_batch(
            queries=[(0, t)], index_type="ivf", k=3, **kw),
        "table batch": lambda t, **kw: a.search_batch(
            queries=[(0, t)], index_type="ivf", k=3, max_driver_queries=0, **kw),
    }
    for i, (label, call) in zip((3, 11, 17), calls.items()):
        v = read("chunks")
        doomed.append(ids[i])
        live = call(texts[i]).collect()
        assert not doomed and read("chunks") == v + 1, label  # raced
        assert live == call(texts[i], version=v).collect(), label
        assert max(live, key=lambda r: r.score).content == texts[i], label


def test_live_pinned_ivf_search_serves_from_memo(spark, tmp_path, monkeypatch):
    """r12 ADVICE: the serving layer pins every /query to one live
    pointer read, so search(version=<live>) on the ivf path must serve
    from the in-memory per-version memo like an unpinned search — not
    re-read centroids.json per request. Only a pin the memo does not
    hold goes to _ivf_stored."""
    d, _, _ = _seed_store(spark, tmp_path)
    live = d._current_version("chunks")

    warm = d.search(QUESTIONS[2], index_type="ivf", k=3).collect()
    assert d._ivf_version == live  # memo holds the live generation

    calls: list[int] = []
    orig_stored = d._ivf_stored

    def spy(version):
        calls.append(version)
        return orig_stored(version)

    monkeypatch.setattr(d, "_ivf_stored", spy)

    pinned = d.search(QUESTIONS[2], index_type="ivf", k=3, version=live).collect()
    assert calls == []  # memo hit: no disk read
    assert [(r.id, r.score) for r in pinned] == [(r.id, r.score) for r in warm]

    # a pin the memo does NOT hold still reads the stored artifact
    d.add("chunks", spark.createDataFrame(
        [(str(uuid.uuid4()), {}, None, None, "a brand new row", None,
          d.table("chunks").first().document_id)], SCHEMAS["chunks"]))
    new_live = d._current_version("chunks")
    d.search(QUESTIONS[2], index_type="ivf", k=3, version=new_live).collect()
    assert calls == [new_live]


def test_export_serving_bundle_lifecycle(spark, tmp_path):
    """r15 verdict #7 e2e: export the live generation as a
    self-contained bundle, open it as a FRESH store, and serve every
    search strategy from it — results identical to the source facade.
    The bundle must be hard-linked (zero copy), its manifest must
    carry verifiable checksums and a measured recall row, tampering
    must be caught before anything serves, and the bundle must keep
    serving after the SOURCE store's retention GC drops the exported
    generation (the links keep the data alive)."""
    import json
    import os

    from local_vectordb_spark.api import open_serving_bundle

    # a PRIVATE store: the module's shared fixture is mutated by
    # earlier tests (cascade delete and friends), so the export's
    # row-count and recall assertions need a corpus this test owns
    db = VectorDB(spark, str(tmp_path / "src"))
    lib = str(uuid.uuid4())
    db.add("libraries",
           spark.createDataFrame([(lib, {}, None, None, "l")],
                                 SCHEMAS["libraries"]))
    doc = str(uuid.uuid4())
    db.add("documents",
           spark.createDataFrame([(doc, {}, None, None, "d", lib)],
                                 SCHEMAS["documents"]))
    db.add("chunks", spark.createDataFrame(
        [(f"c{i}", {}, None, None, q, None, doc)
         for i, q in enumerate(QUESTIONS)],
        SCHEMAS["chunks"],
    ))
    out = str(tmp_path / "bundle")
    manifest = db.export_serving_bundle(out)
    v = manifest["table_version"]
    assert manifest["n_rows"] == 10
    assert manifest["timeline"] == db.timeline_id()
    assert set(manifest["artifacts"]) == {"data", "sign", "ivf", "nsw"}
    rec = manifest["recall"]
    assert rec["index_type"] == "sign" and rec["n_queries"] == 3
    assert rec["recall"] is not None and 0.0 <= rec["recall"] <= 1.0
    # on-disk manifest == returned manifest, written last
    with open(os.path.join(out, "MANIFEST.json")) as f:
        assert json.load(f) == manifest

    # zero-copy: every bundled data file shares an inode with the store
    data_dir = os.path.join(out, "chunks", f"v{v}")
    linked = [n for n in os.listdir(data_dir) if n.endswith(".parquet")]
    assert linked and all(
        os.stat(os.path.join(data_dir, n)).st_nlink >= 2 for n in linked
    )

    bdb = open_serving_bundle(spark, out, verify_checksums=True)
    qv = [float(x) for x in
          db.table("chunks").orderBy("id").limit(1).collect()[0].embedding]
    for strategy in ("cosine", "sign", "nsw", "ivf"):
        got = bdb.search(query_vec=qv, index_type=strategy, k=3).collect()
        want = db.search(query_vec=qv, index_type=strategy, k=3).collect()
        assert [(r.id, r.score) for r in got] == \
            [(r.id, r.score) for r in want], strategy

    # a second export into the same directory must refuse — and so
    # must an export into any non-empty dir (a half-written bundle
    # from a crashed export would degrade links to copies on retry)
    with pytest.raises(ValueError, match="not empty"):
        db.export_serving_bundle(out)
    half = str(tmp_path / "half")
    os.makedirs(half)
    open(os.path.join(half, "debris"), "w").close()
    with pytest.raises(ValueError, match="not empty"):
        db.export_serving_bundle(half)

    # tamper: truncate one manifested parquet -> size gate trips
    victim = os.path.join(data_dir, linked[0])
    os.remove(victim)  # break the link before rewriting (shared inode!)
    with open(victim, "wb") as f:
        f.write(b"tampered")
    with pytest.raises(ValueError, match="bytes|missing"):
        open_serving_bundle(spark, out)


def test_export_bundle_survives_source_gc(spark, tmp_path):
    """The exported links, not the source store, own the bundle's
    lifetime: after enough commits that the source GCs the exported
    generation (keep_versions=2), the bundle still opens clean and
    serves the exact pre-GC rows."""
    import uuid as _uuid

    from local_vectordb_spark.api import open_serving_bundle
    from local_vectordb_spark.sources.json_records import SCHEMAS

    d = VectorDB(spark, str(tmp_path / "src"), keep_versions=2)
    lib = str(_uuid.uuid4())
    d.add("libraries",
          spark.createDataFrame([(lib, {}, None, None, "l")],
                                SCHEMAS["libraries"]))
    doc = str(_uuid.uuid4())
    d.add("documents",
          spark.createDataFrame([(doc, {}, None, None, "d", lib)],
                                SCHEMAS["documents"]))

    def chunk(i):
        return spark.createDataFrame(
            [(f"c{i}", {}, None, None, f"content {i}", None, doc)],
            SCHEMAS["chunks"],
        )

    for i in range(4):
        d.add("chunks", chunk(i))
    out = str(tmp_path / "bundle")
    manifest = d.export_serving_bundle(out, recall_queries=1, recall_k=2)
    v = manifest["table_version"]

    for i in range(4, 8):  # push the exported generation past retention
        d.add("chunks", chunk(i))
    import os
    assert not os.path.exists(
        os.path.join(str(tmp_path / "src"), "chunks", f"v{v}")
    )  # the source really dropped it

    bdb = open_serving_bundle(spark, out, verify_checksums=True)
    assert {r.id for r in bdb.table("chunks").collect()} == \
        {"c0", "c1", "c2", "c3"}
    hits = bdb.search(query="content 2", index_type="cosine", k=2)
    assert hits.collect()[0].id in {"c0", "c1", "c2", "c3"}


def test_incremental_export_reuses_checksums(spark, tmp_path):
    """The checksum pass is the last corpus-bound cost in the export
    path; with ``base_bundle`` it becomes cost ∝ churn. After a small
    maintained commit the new generation's index artifacts hard-link
    their untouched partition files from the previous generation —
    the SAME inodes the previous bundle linked — so the second export
    must reuse a substantial share of recorded sha256es without
    reading bytes, and the full checksum re-verification on open
    proves every reused hash is still byte-true. A corpus file
    (rewritten wholesale each commit, new inodes) must NOT be
    reused."""
    import uuid as _uuid

    from local_vectordb_spark.api import open_serving_bundle
    from local_vectordb_spark.sources.json_records import SCHEMAS

    db = VectorDB(spark, str(tmp_path / "src"), keep_versions=4)
    lib = str(_uuid.uuid4())
    db.add("libraries",
           spark.createDataFrame([(lib, {}, None, None, "l")],
                                 SCHEMAS["libraries"]))
    doc = str(_uuid.uuid4())
    db.add("documents",
           spark.createDataFrame([(doc, {}, None, None, "d", lib)],
                                 SCHEMAS["documents"]))
    db.add("chunks", spark.createDataFrame(
        [(f"c{i}", {}, None, None, f"content {i}", None, doc)
         for i in range(32)],
        SCHEMAS["chunks"],
    ))

    b0 = str(tmp_path / "b0")
    m0 = db.export_serving_bundle(b0, recall_queries=1, recall_k=2)
    assert m0["checksum_reuse"]["reused"] == 0  # no base: all hashed
    assert all("ino" in i and "mtime_ns" in i
               for i in m0["files"].values())

    # one small maintained commit: the sign layout for the new
    # generation links every untouched bucket's files
    db.add("chunks", spark.createDataFrame(
        [("late0", {}, None, None, "late content", None, doc)],
        SCHEMAS["chunks"],
    ))
    b1 = str(tmp_path / "b1")
    m1 = db.export_serving_bundle(b1, recall_queries=1, recall_k=2,
                                  base_bundle=b0)
    ru = m1["checksum_reuse"]
    assert ru["reused"] > 0, ru
    assert ru["hashed"] > 0, ru  # corpus slice + touched partitions

    # every reused hash must survive a full byte re-verification
    bdb = open_serving_bundle(spark, b1, verify_checksums=True)
    assert bdb.table("chunks").count() == 33

    # and a THIRD export against a tampered base refuses to reuse:
    # rewrite one base file in place (same size, new bytes) — its
    # mtime_ns moves, so the stale recorded hash is not trusted
    import os
    victim_rel = next(r for r in m0["files"] if r.endswith(".parquet"))
    victim = os.path.join(b0, victim_rel)
    data = open(victim, "rb").read()
    os.remove(victim)  # break the shared inode first
    with open(victim, "wb") as f:
        f.write(data[:-1] + bytes([data[-1] ^ 0xFF]))
    b2 = str(tmp_path / "b2")
    m2 = db.export_serving_bundle(b2, recall_queries=1, recall_k=2,
                                  base_bundle=b0)
    open_serving_bundle(spark, b2, verify_checksums=True)  # still true


def test_timeline_id_degrades_to_ephemeral_on_readonly_root(
    spark, tmp_path, monkeypatch
):
    """r16 ADVICE (low): _pin_headers calls timeline_id() on every data
    read, so serving a pre-r16 store from a read-only mount must NOT
    turn GETs into 500s by attempting the _TIMELINE mint. On OSError
    the id degrades to a process-lifetime ephemeral value — stable
    within the instance, never written to disk."""
    import os as _os

    root = str(tmp_path / "ro_store")
    _os.makedirs(root)
    db = VectorDB(spark, root)

    real_makedirs = _os.makedirs

    def deny(path, *a, **k):
        if str(path).startswith(root):
            raise OSError(30, "Read-only file system", path)
        return real_makedirs(path, *a, **k)

    monkeypatch.setattr(_os, "makedirs", deny)
    tid = db.timeline_id()
    assert tid.startswith("ephemeral-")
    assert db.timeline_id() == tid  # stable for the process lifetime
    assert not _os.path.exists(_os.path.join(root, "_TIMELINE"))

    # a WRITABLE root still mints the durable id (the degrade is an
    # escape hatch, not the new default)
    monkeypatch.undo()
    db2 = VectorDB(spark, str(tmp_path / "rw_store"))
    tid2 = db2.timeline_id()
    assert not tid2.startswith("ephemeral-")
    assert _os.path.exists(_os.path.join(str(tmp_path / "rw_store"),
                                         "_TIMELINE"))


def test_export_dirty_dir_refuses_before_artifact_builds(
    db, tmp_path, monkeypatch
):
    """r16 ADVICE (low): the non-empty out_dir refusal must fire
    BEFORE the expensive _sign/_ivf/_nsw stored builds (82 s at the XL
    tier), not after. Monkeypatched builders prove none is reached."""
    import os as _os

    d, *_ = db

    def boom(*a, **k):
        raise AssertionError("artifact build ran before the guard")

    monkeypatch.setattr(VectorDB, "_sign_stored", boom)
    monkeypatch.setattr(VectorDB, "_ivf_stored", boom)
    monkeypatch.setattr(VectorDB, "_graph_stored", boom)
    dirty = str(tmp_path / "dirty")
    _os.makedirs(dirty)
    open(_os.path.join(dirty, "debris"), "w").close()
    with pytest.raises(ValueError, match="not empty"):
        d.export_serving_bundle(dirty)


def test_open_bundle_integrity_gates_current_and_timeline(spark, tmp_path):
    """r16 ADVICE (low): a bundle missing chunks/_CURRENT (itself a
    manifested file) must surface as the documented ValueError
    integrity gate, not a raw FileNotFoundError — and the bundle's
    _TIMELINE CONTENT is cross-checked against manifest['timeline']
    unconditionally, so a same-size substitution trips without opt-in
    checksum verification."""
    import os as _os
    import uuid as _uuid

    from local_vectordb_spark.api import open_serving_bundle
    from local_vectordb_spark.sources.json_records import SCHEMAS

    d = VectorDB(spark, str(tmp_path / "src"))
    lib = str(_uuid.uuid4())
    d.add("libraries",
          spark.createDataFrame([(lib, {}, None, None, "l")],
                                SCHEMAS["libraries"]))
    doc = str(_uuid.uuid4())
    d.add("documents",
          spark.createDataFrame([(doc, {}, None, None, "d", lib)],
                                SCHEMAS["documents"]))
    d.add("chunks", spark.createDataFrame(
        [(f"c{i}", {}, None, None, f"content {i}", None, doc)
         for i in range(4)],
        SCHEMAS["chunks"],
    ))
    out = str(tmp_path / "bundle")
    manifest = d.export_serving_bundle(out, recall_queries=1, recall_k=2)

    # _TIMELINE substitution: same byte count, different identity
    tl_path = _os.path.join(out, "_TIMELINE")
    real_tl = open(tl_path).read()
    fake = ("0" * len(real_tl))
    assert fake != real_tl
    _os.remove(tl_path)  # break the hard link before rewriting
    with open(tl_path, "w") as f:
        f.write(fake)
    with pytest.raises(ValueError, match="_TIMELINE.*disagrees"):
        open_serving_bundle(spark, out)
    _os.remove(tl_path)
    with open(tl_path, "w") as f:
        f.write(real_tl)
    open_serving_bundle(spark, out)  # restored: opens clean

    # missing _CURRENT: ValueError envelope, not FileNotFoundError
    cur = _os.path.join(out, "chunks", "_CURRENT")
    _os.remove(cur)
    with pytest.raises(ValueError, match="_CURRENT unreadable"):
        open_serving_bundle(spark, out)
    with open(cur, "w") as f:
        f.write(str(manifest["table_version"]))
    open_serving_bundle(spark, out)  # restored: opens clean


def test_incremental_export_requires_device_match(spark, tmp_path):
    """r16 ADVICE (low): inode numbers are unique only per filesystem,
    so checksum reuse is keyed by (st_dev, st_ino) and the manifest
    records both. A base manifest whose entries lack 'dev' (pre-r17
    format, or a cross-device copy that can't vouch for inode
    identity) yields ZERO reuse — correct, just hashed fresh."""
    import json as _json
    import os as _os
    import uuid as _uuid

    from local_vectordb_spark.sources.json_records import SCHEMAS

    d = VectorDB(spark, str(tmp_path / "src"), keep_versions=4)
    lib = str(_uuid.uuid4())
    d.add("libraries",
          spark.createDataFrame([(lib, {}, None, None, "l")],
                                SCHEMAS["libraries"]))
    doc = str(_uuid.uuid4())
    d.add("documents",
          spark.createDataFrame([(doc, {}, None, None, "d", lib)],
                                SCHEMAS["documents"]))
    d.add("chunks", spark.createDataFrame(
        [(f"c{i}", {}, None, None, f"content {i}", None, doc)
         for i in range(16)],
        SCHEMAS["chunks"],
    ))
    b0 = str(tmp_path / "b0")
    m0 = d.export_serving_bundle(b0, recall_queries=1, recall_k=2)
    assert all("dev" in i and "ino" in i for i in m0["files"].values())

    d.add("chunks", spark.createDataFrame(
        [("late0", {}, None, None, "late content", None, doc)],
        SCHEMAS["chunks"],
    ))
    # sanity: with the intact base, reuse is non-zero
    b1 = str(tmp_path / "b1")
    m1 = d.export_serving_bundle(b1, recall_queries=1, recall_k=2,
                                 base_bundle=b0)
    assert m1["checksum_reuse"]["reused"] > 0

    # strip 'dev' from the base manifest -> the reuse map goes empty
    mp = _os.path.join(b0, "MANIFEST.json")
    blob = _json.load(open(mp))
    for info in blob["files"].values():
        info.pop("dev", None)
    with open(mp, "w") as f:
        _json.dump(blob, f)
    b2 = str(tmp_path / "b2")
    m2 = d.export_serving_bundle(b2, recall_queries=1, recall_k=2,
                                 base_bundle=b0)
    assert m2["checksum_reuse"]["reused"] == 0
    assert m2["checksum_reuse"]["hashed"] > 0


def _seed_bundle_src(spark, tmp_path, n=24):
    import uuid as _uuid

    d = VectorDB(spark, str(tmp_path / "src"), keep_versions=4)
    lib = str(_uuid.uuid4())
    d.add("libraries",
          spark.createDataFrame([(lib, {}, None, None, "l")],
                                SCHEMAS["libraries"]))
    doc = str(_uuid.uuid4())
    d.add("documents",
          spark.createDataFrame([(doc, {}, None, None, "d", lib)],
                                SCHEMAS["documents"]))
    d.add("chunks", spark.createDataFrame(
        [(f"c{i}", {}, None, None, f"content {i}", None, doc)
         for i in range(n)],
        SCHEMAS["chunks"],
    ))
    return d, doc


def test_sync_bundle_refreshes_deployed_bundle(spark, tmp_path):
    """r16 verdict #5: a deployed bundle is refreshed IN PLACE to a
    newer export at cost ∝ churn. After a one-row commit, the sync
    must re-home the untouched (byte-identical, new-generation-path)
    artifact files with local links — zero bytes shipped for them —
    ship only the genuinely new bytes, delete the old generation's
    files, and leave a bundle that serves exactly what a fresh export
    of the same generation serves, byte-verified."""
    from local_vectordb_spark.api import open_serving_bundle, sync_bundle

    d, doc = _seed_bundle_src(spark, tmp_path)
    deployed = str(tmp_path / "deployed")
    d.export_serving_bundle(deployed, recall_queries=1, recall_k=2)

    # a no-op sync (source == destination generation) keeps everything
    stats0 = sync_bundle(deployed, deployed)
    assert stats0["shipped"] == 0 and stats0["relinked"] == 0
    assert stats0["deleted"] == 0 and stats0["kept"] > 0

    # one small maintained commit, then a fresh export = the release
    d.add("chunks", spark.createDataFrame(
        [("late0", {}, None, None, "late content", None, doc)],
        SCHEMAS["chunks"],
    ))
    release = str(tmp_path / "release")
    d.export_serving_bundle(release, recall_queries=1, recall_k=2,
                            base_bundle=deployed)

    stats = sync_bundle(release, deployed)
    assert stats["relinked"] > 0, stats   # untouched artifact files
    assert stats["shipped"] > 0, stats    # corpus slice + touched
    assert stats["deleted"] > 0, stats    # the old generation's files
    assert stats["bytes_shipped"] > 0

    # the refreshed bundle == the fresh export, byte-verified
    sdb = open_serving_bundle(spark, deployed, verify_checksums=True)
    rdb = open_serving_bundle(spark, release, verify_checksums=True)
    assert sdb.table("chunks").count() == 25
    qv = [float(x) for x in
          rdb.table("chunks").orderBy("id").limit(1).collect()[0].embedding]
    for strategy in ("cosine", "sign", "nsw", "ivf"):
        got = sdb.search(query_vec=qv, index_type=strategy, k=3).collect()
        want = rdb.search(query_vec=qv, index_type=strategy, k=3).collect()
        assert [(r.id, r.score) for r in got] == \
            [(r.id, r.score) for r in want], strategy

    # tamper with one kept file in place (stat identity moves) -> the
    # next sync refuses to trust it and re-ships/relinks it back
    import json as _json
    import os as _os

    m = _json.load(open(_os.path.join(deployed, "MANIFEST.json")))
    victim = next(r for r in m["files"] if r.endswith(".parquet"))
    vfull = _os.path.join(deployed, victim)
    data = open(vfull, "rb").read()
    _os.remove(vfull)  # break the shared inode before rewriting
    with open(vfull, "wb") as f:
        f.write(b"\0" * len(data))
    stats2 = sync_bundle(release, deployed)
    assert stats2["shipped"] + stats2["relinked"] >= 1
    open_serving_bundle(spark, deployed, verify_checksums=True)


def test_sync_bundle_bootstraps_empty_destination(spark, tmp_path):
    """Sync into a fresh directory = a full bootstrap: everything
    ships (nothing local to vouch for), and the result opens
    byte-verified."""
    from local_vectordb_spark.api import open_serving_bundle, sync_bundle

    d, _doc = _seed_bundle_src(spark, tmp_path, n=8)
    release = str(tmp_path / "release")
    m = d.export_serving_bundle(release, recall_queries=1, recall_k=2)
    host = str(tmp_path / "host")
    stats = sync_bundle(release, host)
    assert stats["shipped"] == len(m["files"])
    assert stats["kept"] == 0 and stats["relinked"] == 0
    bdb = open_serving_bundle(spark, host, verify_checksums=True)
    assert bdb.table("chunks").count() == 8


def test_sync_bundle_torn_sync_refuses_then_heals(spark, tmp_path,
                                                  monkeypatch):
    """A sync that dies mid-ship leaves a bundle with NO manifest —
    open_serving_bundle refuses loudly, never serves a half-refreshed
    index — and simply re-running the sync completes it: the `.prev`
    trust base still vouches for what survived."""
    import os as _os

    from local_vectordb_spark.api import open_serving_bundle, sync_bundle

    d, doc = _seed_bundle_src(spark, tmp_path)
    deployed = str(tmp_path / "deployed")
    d.export_serving_bundle(deployed, recall_queries=1, recall_k=2)
    d.add("chunks", spark.createDataFrame(
        [("late0", {}, None, None, "late content", None, doc)],
        SCHEMAS["chunks"],
    ))
    release = str(tmp_path / "release")
    d.export_serving_bundle(release, recall_queries=1, recall_k=2,
                            base_bundle=deployed)

    real_replace = _os.replace
    calls = {"n": 0}

    def dying_replace(a, b):
        # let the up-front MANIFEST -> .prev rename through, then die
        # a few file-ships later, well before the manifest write
        if str(b).startswith(deployed) and not str(b).endswith(".prev"):
            calls["n"] += 1
            if calls["n"] > 3:
                raise OSError(5, "injected I/O error")
        return real_replace(a, b)

    monkeypatch.setattr(_os, "replace", dying_replace)
    with pytest.raises(OSError, match="injected"):
        sync_bundle(release, deployed)
    monkeypatch.undo()

    # torn: no manifest -> the bundle refuses to serve
    assert not _os.path.exists(_os.path.join(deployed, "MANIFEST.json"))
    assert _os.path.exists(_os.path.join(deployed, "MANIFEST.json.prev"))
    with pytest.raises(ValueError, match="MANIFEST"):
        open_serving_bundle(spark, deployed)

    # re-run heals: the prev trust base still vouches for survivors
    stats = sync_bundle(release, deployed)
    assert stats["kept"] > 0, stats  # survivors were NOT re-shipped
    assert not _os.path.exists(_os.path.join(deployed,
                                             "MANIFEST.json.prev"))
    bdb = open_serving_bundle(spark, deployed, verify_checksums=True)
    assert bdb.table("chunks").count() == 25


def test_sync_bundle_swapped_content_never_relinks_stale_donor(tmp_path):
    """r17 ADVICE (medium): during the ship loop a destination path can
    be overwritten BEFORE it is used as a relink donor for a later
    same-sha file — if the trust base kept vouching for it, the later
    os.link would store the NEW bytes under the OLD sha and the
    restamped manifest would certify a hash the bytes don't match.
    Construct the adversarial case directly (two files whose contents
    SWAP between generations, iteration order hitting the donor first)
    and assert byte-true results. Pure-filesystem: sync_bundle never
    touches Spark."""
    import hashlib
    import json as _json
    import os as _os

    from local_vectordb_spark.api import sync_bundle

    def write_bundle(root, files, manifest_files=None, stamp=False):
        _os.makedirs(root, exist_ok=True)
        entries = {}
        for rel, data in files.items():
            full = _os.path.join(root, rel)
            with open(full, "wb") as f:
                f.write(data)
            info = {"bytes": len(data),
                    "sha256": hashlib.sha256(data).hexdigest()}
            if stamp:
                st = _os.stat(full)
                info.update(ino=st.st_ino, dev=st.st_dev,
                            mtime_ns=st.st_mtime_ns)
            entries[rel] = info
        with open(_os.path.join(root, "MANIFEST.json"), "w") as f:
            _json.dump({"files": manifest_files or entries}, f)
        return entries

    x, y = b"content-X" * 64, b"content-Y" * 64
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    # source wants a=Y, b=X; destination currently holds a=X, b=Y
    # (stat-stamped so both are trusted donors). Iteration order (dict
    # insertion = JSON order) processes "a" first: it relinks Y from
    # donor "b", overwriting "a" — at which point "a" must STOP being
    # the sha(X) donor, so "b" ships X from the source instead of
    # linking "a"'s fresh Y bytes.
    write_bundle(src, {"a": y, "b": x})
    write_bundle(dst, {"a": x, "b": y}, stamp=True)

    stats = sync_bundle(src, dst)
    assert stats["relinked"] == 1, stats
    assert stats["shipped"] == 1, stats
    for rel, want in (("a", y), ("b", x)):
        got = open(_os.path.join(dst, rel), "rb").read()
        assert got == want, f"{rel}: stale-donor bytes"
        m = _json.load(open(_os.path.join(dst, "MANIFEST.json")))
        assert m["files"][rel]["sha256"] == \
            hashlib.sha256(want).hexdigest()


def test_timeline_mint_raises_on_transient_oserror(spark, tmp_path,
                                                   monkeypatch):
    """r17 ADVICE (low): only permission-shaped failures (EROFS /
    EACCES / EPERM) may degrade the timeline id to an ephemeral one —
    a transient ENOSPC on a WRITABLE root must raise, because a
    silently minted per-process id makes every persistent CDF consumer
    see a timeline change and full-corpus re-bootstrap on restart."""
    import errno as _errno
    import os as _os

    root = str(tmp_path / "enospc_store")
    _os.makedirs(root)
    db = VectorDB(spark, root)

    real_makedirs = _os.makedirs

    def deny(path, *a, **k):
        if str(path).startswith(root):
            raise OSError(_errno.ENOSPC, "No space left on device", path)
        return real_makedirs(path, *a, **k)

    monkeypatch.setattr(_os, "makedirs", deny)
    with pytest.raises(OSError) as ei:
        db.timeline_id()
    assert ei.value.errno == _errno.ENOSPC
    monkeypatch.undo()

    # the permission-shaped degrade still works and now warns
    db2 = VectorDB(spark, str(tmp_path / "eacces_store"))
    _os.makedirs(str(tmp_path / "eacces_store"))

    def deny2(path, *a, **k):
        if str(path).startswith(str(tmp_path / "eacces_store")):
            raise OSError(_errno.EACCES, "Permission denied", path)
        return real_makedirs(path, *a, **k)

    monkeypatch.setattr(_os, "makedirs", deny2)
    with pytest.warns(UserWarning, match="ephemeral"):
        tid = db2.timeline_id()
    assert tid.startswith("ephemeral-")


def test_multi_table_bundle_serves_cascade_reads(spark, tmp_path):
    """r17 verdict #6: export_serving_bundle(siblings=True) carries the
    documents/libraries generations under the same hard-link + manifest
    discipline, so the bundle-served facade answers get/table for all
    three kinds and a cascade read (chunks→documents→libraries) equals
    the live store's at the pinned versions — with NO live store. The
    sibling _CURRENT pointers are integrity-gated on open, and
    sync_bundle triages sibling files like any others."""
    import json as _json
    import os as _os

    from local_vectordb_spark.api import open_serving_bundle, sync_bundle

    d, doc = _seed_bundle_src(spark, tmp_path, n=12)
    out = str(tmp_path / "mt_bundle")
    m = d.export_serving_bundle(out, recall_queries=1, recall_k=2,
                                siblings=True)
    assert set(m["siblings"]) == {"documents", "libraries"}
    assert all(v >= 0 for v in m["siblings"].values()), m["siblings"]
    # sibling files are manifested like everything else
    assert any(r.startswith("documents/") for r in m["files"])
    assert any(r.startswith("libraries/") for r in m["files"])

    bdb = open_serving_bundle(spark, out, verify_checksums=True)
    # all three kinds readable offline; point reads work
    assert bdb.table("documents").count() == 1
    assert bdb.table("libraries").count() == 1
    assert bdb.get("documents", doc).count() == 1

    def cascade(db):
        ch = db.table("chunks").select("id", "content", "document_id")
        dc = db.table("documents").selectExpr(
            "id AS document_id", "name AS document_name", "library_id")
        lb = db.table("libraries").selectExpr(
            "id AS library_id", "name AS library_name")
        return sorted(
            (r.id, r.content, r.document_name, r.library_name)
            for r in ch.join(dc, "document_id")
                       .join(lb, "library_id").collect()
        )

    pre_sync = cascade(bdb)
    assert pre_sync == cascade(d)
    assert len(pre_sync) == 12

    # a tampered sibling pointer refuses loudly before serving
    cur = _os.path.join(out, "documents", "_CURRENT")
    orig = open(cur).read()
    with open(cur, "w") as f:
        f.write(str(int(orig) + 7))
    with pytest.raises(ValueError, match="documents/_CURRENT|disagrees"):
        open_serving_bundle(spark, out)
    with open(cur, "w") as f:
        f.write(orig)

    # sync: a multi-table release refreshes a multi-table deployment;
    # the unchanged sibling generations classify as KEPT (zero bytes)
    d.add("chunks", spark.createDataFrame(
        [("late0", {}, None, None, "late content", None, doc)],
        SCHEMAS["chunks"],
    ))
    release = str(tmp_path / "mt_release")
    d.export_serving_bundle(release, recall_queries=1, recall_k=2,
                            base_bundle=out, siblings=True)
    stats = sync_bundle(release, out)
    assert stats["kept"] > 0 and stats["shipped"] > 0, stats
    b2 = open_serving_bundle(spark, out, verify_checksums=True)
    assert b2.table("chunks").count() == 13
    post = cascade(b2)
    assert post != pre_sync and len(post) == 13  # the new chunk joined
    assert b2.table("documents").count() == 1

    # a chunks-only bundle still opens (no siblings key, old contract)
    legacy = str(tmp_path / "legacy_bundle")
    m2 = d.export_serving_bundle(legacy, recall_queries=1, recall_k=2)
    assert "siblings" not in m2
    lb = open_serving_bundle(spark, legacy, verify_checksums=True)
    assert lb.table("documents").count() == 0  # the documented gap
    mjson = _json.load(open(_os.path.join(legacy, "MANIFEST.json")))
    assert "siblings" not in mjson


def _seed_sq8_store(spark, tmp_path, n=120, dims=12):
    """Bucketed-data store for the sq8 tier tests: bulk load (flat) +
    one delta commit so the live generation is hive-bucketed
    (data_buckets pinned small) and the sign layout exists."""
    import random

    rng = random.Random(11)
    d = VectorDB(spark, str(tmp_path / "sq8src"), data_buckets=8)
    lib, doc = str(uuid.uuid4()), str(uuid.uuid4())
    d.add("libraries", spark.createDataFrame(
        [(lib, {}, None, None, "l")], SCHEMAS["libraries"]))
    d.add("documents", spark.createDataFrame(
        [(doc, {}, None, None, "d", lib)], SCHEMAS["documents"]))
    d.add("chunks", spark.createDataFrame(
        [(f"c{i:03d}", {"par": str(i % 2)}, None, None, f"row {i}",
          [rng.uniform(-1, 1) for _ in range(dims)], doc)
         for i in range(n - 1)],
        SCHEMAS["chunks"]))
    d.add("chunks", spark.createDataFrame(
        [(f"c{n-1:03d}", {"par": str((n - 1) % 2)}, None, None,
          f"row {n-1}", [rng.uniform(-1, 1) for _ in range(dims)], doc)],
        SCHEMAS["chunks"]))
    q = [rng.uniform(-1, 1) for _ in range(dims)]
    return d, doc, q


def test_sq8_tier_two_stage_exact_rerank(spark, tmp_path):
    """r18: the quantized serving tier. At test scale the rerank depth
    (max(8k, 64)) covers every probed candidate, so sq8's exact-rerank
    contract makes its results EQUAL the sign tier's exact scan — on
    the single path, the batch path, and under a metadata filter; a
    wrong quantize/reconstruct or a dropped rerank shows up as an
    ordering or score mismatch. `auto` routes here past AUTO_SQ8_MIN
    (monkeypatched low); the incremental layout build carries the code
    columns; a pre-sq8 layout generation falls back to the expression
    form rather than failing."""
    import os
    import shutil

    d, doc, q = _seed_sq8_store(spark, tmp_path)
    v = d._current_version("chunks")
    assert d._version_buckets(
        os.path.join(d._table_dir("chunks"), f"v{v}")) == 8

    def rows(df):
        return [(r.id, r.score, r.content) for r in df.collect()]

    got = rows(d.search(query_vec=q, index_type="sq8", k=7))
    want = rows(d.search(query_vec=q, index_type="sign", k=7))
    assert got == want and len(got) == 7

    # layout carries the SQ8 triple beside the fp column
    lay = d._sign_stored(v)
    assert {"codes", "vmin", "vmax"} <= set(lay.columns)

    # metadata-filtered parity (filter before scoring, not after top-k)
    gf = rows(d.search(query_vec=q, index_type="sq8", k=9,
                       metadata={"par": "1"}))
    wf = rows(d.search(query_vec=q, index_type="sign", k=9,
                       metadata={"par": "1"}))
    assert gf == wf and gf and all(
        int(c.rsplit(" ", 1)[1]) % 2 == 1 for _, _, c in gf)

    # batch parity vs per-query singles (same tier, same ties)
    import random
    rng = random.Random(99)
    qs = [(0, q), (1, [rng.uniform(-1, 1) for _ in range(len(q))])]
    batch = d.search_batch(query_vecs=qs, index_type="sq8", k=5)
    by_q = {}
    for r in batch.collect():
        by_q.setdefault(r.query_id, []).append((r.id, r.score))
    for qid, qv in qs:
        single = [(r.id, r.score)
                  for r in d.search(query_vec=qv, index_type="sq8",
                                    k=5).collect()]
        assert sorted(by_q[qid]) == sorted(single), qid

    # auto routes to sq8 past the second knee (knees forced below n)
    import local_vectordb_spark.api as api_mod
    old_brute, old_sq8 = api_mod.AUTO_BRUTE_MAX, api_mod.AUTO_SQ8_MIN
    try:
        api_mod.AUTO_BRUTE_MAX, api_mod.AUTO_SQ8_MIN = 5, 10
        auto = rows(d.search(query_vec=q, index_type="auto", k=7))
        assert auto == got
        b_auto = d.search_batch(query_vecs=qs, index_type="auto", k=5)
        assert {(r.query_id, r.id) for r in b_auto.collect()} == {
            (qid, i) for qid, pairs in by_q.items() for i, _ in pairs}
    finally:
        api_mod.AUTO_BRUTE_MAX, api_mod.AUTO_SQ8_MIN = old_brute, old_sq8

    # one more delta commit -> the INCREMENTAL layout build must carry
    # the code columns (provenance proves the maintained path ran)
    import json as _json
    d.add("chunks", spark.createDataFrame(
        [("late1", {"par": "1"}, None, None, "row 999",
          [0.5] * len(q), doc)], SCHEMAS["chunks"]))
    v2 = d._current_version("chunks")
    _ = d.search(query_vec=q, index_type="sq8", k=3)  # builds _sign_v{v2}
    prov = os.path.join(d._table_dir("chunks"), f"_sign_v{v2}",
                        "provenance.json")
    assert os.path.exists(prov), "layout should extend incrementally"
    assert _json.load(open(prov))["base_version"] == v
    lay2 = d._sign_stored(v2)
    assert {"codes", "vmin", "vmax"} <= set(lay2.columns)
    assert rows(d.search(query_vec=q, index_type="sq8", k=7)) == rows(
        d.search(query_vec=q, index_type="sign", k=7))

    # pre-sq8 layout generation (simulated: rewrite the layout without
    # the code columns) -> expression-form fallback, same answers
    root = os.path.join(d._table_dir("chunks"), f"_sign_v{v2}")
    old_cols = spark.read.parquet(os.path.join(root, "layout"))
    legacy = old_cols.select("id", "embedding", "bucket")
    tmp_lay = str(tmp_path / "legacy_layout")
    legacy.write.partitionBy("bucket").parquet(tmp_lay)
    shutil.rmtree(os.path.join(root, "layout"))
    shutil.move(tmp_lay, os.path.join(root, "layout"))
    assert "codes" not in d._sign_stored(v2).columns
    assert rows(d.search(query_vec=q, index_type="sq8", k=7)) == rows(
        d.search(query_vec=q, index_type="sign", k=7))


def test_cached_parquet_invalidates_on_dir_replacement(spark, tmp_path):
    """The facade's artifact-DataFrame cache keys on (path, dir
    mtime_ns): replacing a whole artifact directory IN PLACE (the only
    mutation the writer contract allows besides minting a new
    generation dir) must serve the new data, and the cache is a
    bounded LRU so a long-lived facade does not hold one handle per
    superseded generation forever (r18 verdict #8)."""
    import shutil

    from local_vectordb_spark.api import VectorDB

    db = VectorDB(spark, str(tmp_path / "store"))
    p = str(tmp_path / "art")
    spark.range(3).write.parquet(p)
    df1 = db._cached_parquet(p)
    assert df1.count() == 3
    assert db._cached_parquet(p) is df1  # stable handle while unchanged

    shutil.rmtree(p)
    spark.range(5).write.parquet(p)  # in-place replacement bumps dir mtime
    df2 = db._cached_parquet(p)
    assert df2 is not df1
    assert df2.count() == 5

    db._df_cache_max = 4
    for i in range(6):
        q = str(tmp_path / f"gen{i}")
        spark.range(1).write.parquet(q)
        db._cached_parquet(q)
    assert len(db._df_cache) <= 4
    # the most recent entry survives the evictions
    assert db._cached_parquet(str(tmp_path / "gen5")) is not None
