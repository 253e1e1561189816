"""Incremental index maintenance (r13): delta-recorded commits,
delta-chain composition, and the sign/IVF stored-artifact builders
that rewrite only touched partitions and hard-link the rest.

The invariants under test are the ones that make the feature safe to
ship: the incremental sign layout is ROW-IDENTICAL to a full rebuild;
the incremental IVF artifact freezes centroids, tracks drift, and
retrains past the budget; a broken chain (reset / pre-delta commit)
falls back to a full build instead of a wrong artifact; untouched
partitions are hard-linked (same inode), never rewritten."""

from __future__ import annotations

import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

import local_vectordb_spark.api as api_mod
from local_vectordb_spark.api import VectorDB
from local_vectordb_spark.operators import ivf
from local_vectordb_spark.operators.incremental import (
    auto_buckets,
    compose_delta_chain,
    generation_buckets,
    rewrite_partitions,
    seal_buckets,
)
from local_vectordb_spark.sources.json_records import SCHEMAS

QUESTIONS = [
    "what is the capital of germany",
    "how far is it from denver to aspen",
    "what county is modesto california in",
    "who was galileo",
    "what is an atom",
    "when did hawaii become a state",
    "how tall is the sears building",
    "which baseball team did george bush buy into",
    "what is australia's national flower",
    "why does the moon turn orange",
    "what is a rainbow made of",
    "who wrote the origin of species",
]


def _seed(spark, path, texts, keep_versions=2):
    # incremental maintenance spans at most the retention window: the
    # base artifact and every delta in the chain must still be on
    # disk, so multi-commit chains need keep_versions > chain length
    d = VectorDB(spark, str(path), keep_versions=keep_versions)
    d.add("libraries", spark.createDataFrame(
        [("lib0", {}, None, None, "l")], SCHEMAS["libraries"]))
    d.add("documents", spark.createDataFrame(
        [("d0", {}, None, None, "d", "lib0")], SCHEMAS["documents"]))
    d.add("chunks", spark.createDataFrame(
        [(f"c{i}", {}, None, None, t, None, "d0") for i, t in enumerate(texts)],
        SCHEMAS["chunks"]))
    return d


def _chunk_rows(texts, start=100):
    return [
        (f"c{start + i}", {}, None, None, t, None, "d0")
        for i, t in enumerate(texts)
    ]


def _layout_rows(spark, store, version):
    p = os.path.join(store, "chunks", f"_sign_v{version}", "layout")
    return {
        (r.id, r.bucket)
        for r in spark.read.parquet(p).select("id", "bucket").collect()
    }


# ---------- compose_delta_chain (pure frame algebra) ----------

def test_compose_delta_chain_nets_out_intermediate_states(spark):
    schema = "id string, embedding array<float>"
    empty = spark.createDataFrame([], schema)

    def ups(*rows):
        return spark.createDataFrame(list(rows), schema)

    # step 0: add a, add b          (b's first touch: no old row)
    # step 1: update a (old a0 -> new a1), delete b
    # step 2: add c, add d
    # step 3: delete d              (added and removed IN-chain: nets out)
    steps = [
        (ups(("a", [0.1]), ("b", [0.2])), empty),
        (ups(("a", [0.9])), ups(("a", [0.1]), ("b", [0.2]))),
        (ups(("c", [0.3]), ("d", [0.4])), empty),
        (empty, ups(("d", [0.4]))),
    ]
    final, old = compose_delta_chain(steps, key_col="id")
    got_final = {(r.id, round(r.embedding[0], 3)) for r in final.collect()}
    # a: present with its LAST value; b: deleted; c: present; d: netted out
    assert got_final == {("a", 0.9), ("c", 0.3)}
    # old rows = state at the chain's start: nothing existed before step 0
    assert old.count() == 0

    # a chain starting mid-history: a existed before (update names its
    # old row), b existed before (delete names it)
    final2, old2 = compose_delta_chain(steps[1:], key_col="id")
    got_old = {(r.id, round(r.embedding[0], 3)) for r in old2.collect()}
    assert got_old == {("a", 0.1), ("b", 0.2)}
    got_final2 = {r.id for r in final2.collect()}
    assert got_final2 == {"a", "c"}


# ---------- rewrite_partitions (one maintained directory) ----------

def _parquet_files(root):
    return {
        os.path.relpath(os.path.join(r, f), root): os.stat(
            os.path.join(r, f)).st_nlink
        for r, _d, fs in os.walk(root) for f in fs if f.endswith(".parquet")
    }


def test_rewrite_partitions_rewrites_touched_and_links_the_rest(
    spark, tmp_path
):
    schema = "id string, v int, k int"
    rows = [(f"r{i}", i, i % 4) for i in range(12)]
    prev = str(tmp_path / "prev")
    # several files per partition, so a one-file rewrite is visible
    spark.createDataFrame(rows, schema).repartition(3).write.partitionBy(
        "k").parquet(prev)
    assert max(
        len([f for f in os.listdir(os.path.join(prev, n))
             if f.endswith(".parquet")])
        for n in os.listdir(prev) if n.startswith("k=")
    ) > 1

    # r1 (k=1) updated, r2 (k=2) deleted, n0 added to k=1
    changed = spark.createDataFrame([("r1",), ("r2",), ("n0",)], "id string")
    new = spark.createDataFrame([("r1", 100, 1), ("n0", 7, 1)], schema)
    out = str(tmp_path / "out")
    rewrite_partitions(prev, out, "k", {1, 2}, changed, new)

    got = {tuple(r) for r in spark.read.parquet(out).select(
        "id", "v", "k").collect()}
    assert got == {r for r in rows if r[0] not in ("r1", "r2")} | {
        ("r1", 100, 1), ("n0", 7, 1)}
    files = _parquet_files(out)
    for part in ("k=0", "k=3"):
        linked = {f: n for f, n in files.items() if f.startswith(part + "/")}
        assert linked and all(n > 1 for n in linked.values()), part
    for part in ("k=1", "k=2"):
        rewritten = [f for f in files if f.startswith(part + "/")]
        assert len(rewritten) == 1, part
        assert files[rewritten[0]] == 1, part

    # an empty touched set writes nothing and links everything
    out2 = str(tmp_path / "out2")
    rewrite_partitions(prev, out2, "k", set(), changed.limit(0), new.limit(0))
    files2 = _parquet_files(out2)
    assert set(files2) == set(_parquet_files(prev))
    assert all(n > 1 for n in files2.values())
    assert sorted(os.listdir(out2)) == sorted(
        n for n in os.listdir(prev) if n.startswith("k="))


def test_rewrite_partitions_over_a_flat_empty_generation(spark, tmp_path):
    """A previous generation with no ``k=`` directory (the flat empty
    parquet an emptied table is sealed to) holds no rows: the rewrite
    writes the new rows alone, and a rewrite that keeps no rows is
    sealed back to a readable flat empty parquet."""
    from pyspark.sql.types import StructType

    schema = "id string, v int"
    prev = str(tmp_path / "prev")
    spark.createDataFrame([], schema).write.parquet(prev)
    new = spark.createDataFrame([("a", 1, 3), ("b", 2, 3)], schema + ", k int")
    out = str(tmp_path / "out")
    rewrite_partitions(prev, out, "k", {3}, new.select("id"), new)
    assert seal_buckets(spark, out, 4, StructType.fromDDL(schema))
    assert generation_buckets(out) == 4
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == [
        ("a", 1, 3), ("b", 2, 3)]

    # the next generation deletes both rows: nothing is left to write
    # or link, and the sealed result is a flat empty parquet
    out2 = str(tmp_path / "out2")
    rewrite_partitions(out, out2, "k", {3}, new.select("id"), new.limit(0))
    assert not seal_buckets(spark, out2, 4, StructType.fromDDL(schema))
    assert generation_buckets(out2) is None
    empty = spark.read.parquet(out2)
    assert empty.columns == ["id", "v"] and empty.count() == 0


def test_rewrite_partitions_scans_only_touched_dirs(spark, tmp_path,
                                                    monkeypatch):
    """The rewrite lists and reads only the touched partition
    directories that exist: every file its scan can read lies under a
    touched ``k=`` directory, however many partitions there are."""
    from pyspark.sql.readwriter import DataFrameReader

    schema = "id string, v int, k int"
    prev = str(tmp_path / "prev")
    spark.createDataFrame([(f"r{i}", i, i % 8) for i in range(32)],
                          schema).write.partitionBy("k").parquet(prev)
    reads = []
    real = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        df = real(self, *paths, **kw)
        reads.append(df)
        return df

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    new = spark.createDataFrame([("r1", 100, 1), ("n0", 7, 5)], schema)
    changed = spark.createDataFrame([("r1",), ("r2",), ("n0",)], "id string")
    out = str(tmp_path / "out")
    # k=9 has no directory: it is neither read nor written
    rewrite_partitions(prev, out, "k", {1, 2, 5, 9}, changed, new)
    monkeypatch.undo()
    files = [f for df in reads for f in df.inputFiles()]
    assert files
    touched_dirs = {os.path.join(prev, f"k={k}") for k in (1, 2, 5)}
    for f in files:
        path = f.removeprefix("file://")
        assert os.path.dirname(path) in touched_dirs, path
    got = {tuple(r) for r in spark.read.parquet(out).select(
        "id", "v", "k").collect()}
    assert ("r1", 100, 1) in got and ("n0", 7, 5) in got
    assert len(got) == 32  # r2 deleted, r1 replaced, n0 added


def test_rewrite_partitions_checks_the_previous_schema(spark, tmp_path):
    """A previous layout missing one of the new rows' columns raises
    AnalysisException (the caller then rebuilds in full), also when
    none of the touched partitions has a directory: otherwise
    old-layout partitions would be linked beside new-layout ones."""
    from pyspark.errors import AnalysisException

    prev = str(tmp_path / "prev")
    spark.createDataFrame([(f"r{i}", i % 2) for i in range(4)],
                          "id string, k int").write.partitionBy(
        "k").parquet(prev)
    new = spark.createDataFrame([("n0", 7, 5)], "id string, v int, k int")
    for touched in ({5}, {0, 5}):
        with pytest.raises(AnalysisException):
            rewrite_partitions(prev, str(tmp_path / f"out{len(touched)}"),
                               "k", touched, new.select("id"), new)


# ---------- delta recording on the write path ----------

def test_crud_writes_record_their_delta(spark, tmp_path):
    d = _seed(spark, tmp_path, QUESTIONS[:6])
    store = str(tmp_path)

    def delta(v):
        dd = os.path.join(store, "chunks", f"v{v}", "_delta")
        assert os.path.exists(os.path.join(dd, "_OK"))
        u = spark.read.parquet(os.path.join(dd, "upserts"))
        r = spark.read.parquet(os.path.join(dd, "removes"))
        return (
            {x.id for x in u.select("id").collect()},
            {x.id for x in r.select("id").collect()},
        )

    # the INITIAL load records no delta: it would be the whole corpus,
    # and no artifact can predate the first commit
    v0 = d._current_version("chunks")
    assert not os.path.exists(
        os.path.join(store, "chunks", f"v{v0}", "_delta"))

    # a subsequent add records exactly the accepted rows
    d.add("chunks", spark.createDataFrame(
        _chunk_rows([QUESTIONS[6]], start=6), SCHEMAS["chunks"]))
    assert delta(d._current_version("chunks")) == ({"c6"}, set())

    # update: both sides carry the id (old row + merged row)
    d.update("chunks", spark.createDataFrame(
        [("c1", None, None, None, "fresh content", None, None)],
        SCHEMAS["chunks"]))
    assert delta(d._current_version("chunks")) == ({"c1"}, {"c1"})

    # delete: remove side only, with the full old row (embedding kept)
    d.delete("chunks", spark.createDataFrame([("c2",)], "id string"))
    v2 = d._current_version("chunks")
    assert delta(v2) == (set(), {"c2"})
    dd = os.path.join(store, "chunks", f"v{v2}", "_delta")
    rem = spark.read.parquet(os.path.join(dd, "removes")).first()
    assert rem.embedding is not None  # names the partition to rewrite

    # reset records NO delta: the chain breaks loudly-by-construction
    d.reset()
    vr = d._current_version("chunks")
    assert not os.path.exists(
        os.path.join(store, "chunks", f"v{vr}", "_delta"))

    # ...and the delta dir is invisible to snapshot readers
    # (6 seeded + c6 added - c2 deleted)
    assert d.table("chunks", version=v2).count() == 6


def test_recorded_delta_is_byte_identical_to_the_commit(spark, tmp_path):
    """r13 ADVICE (medium): the snapshot write and the _delta write are
    two separate Spark actions over the same plan — a
    F.current_timestamp() left in the commit plan resolves per-action,
    so the recorded delta's created_at/updated_at silently diverge
    from the committed snapshot's and every downstream mirror built
    from the change feed drifts. The write path must stamp a
    Python-literal timestamp, making both actions commit identical
    values: assert the CDF's upsert rows match the live table
    byte-for-byte on BOTH timestamp columns, for an add and an
    update commit."""
    d = _seed(spark, tmp_path, QUESTIONS[:4], keep_versions=6)
    v0 = d._current_version("chunks")
    d.add("chunks", spark.createDataFrame(
        _chunk_rows(QUESTIONS[4:6]), SCHEMAS["chunks"]))
    # one true update (c1 exists) and one INSERT-via-update (c200
    # doesn't): the upsert-semantics insert must take the commit stamp
    # as created_at, not ship NULL into the table and the feed (r14)
    d.update("chunks", spark.createDataFrame(
        [("c1", None, None, None, "fresh content", None, None),
         ("c200", None, None, None, QUESTIONS[7], None, "d0")],
        SCHEMAS["chunks"]))

    feed = d.table_changes("chunks", since_version=v0)
    ups = {r.id: r for r in feed.filter("change_type = 'upsert'").collect()}
    assert set(ups) == {"c100", "c101", "c1", "c200"}
    live = {r.id: r for r in d.table("chunks").collect()}
    for i, row in ups.items():
        assert row.created_at == live[i].created_at, i
        assert row.updated_at == live[i].updated_at, i
        assert row.created_at is not None and row.updated_at is not None, i
    # the update commit bumped updated_at past the add commit's stamp,
    # and the inserted row's created_at IS that commit's stamp
    assert live["c1"].updated_at > live["c100"].updated_at
    assert live["c200"].created_at == live["c200"].updated_at


# ---------- sign layout: parity + file reuse ----------

def test_sign_incremental_matches_full_build_and_links_files(
    spark, tmp_path, monkeypatch
):
    d = _seed(spark, tmp_path, QUESTIONS[:8], keep_versions=8)
    store = str(tmp_path)
    d.search(QUESTIONS[0], index_type="sign", k=3).collect()
    v0 = d._current_version("chunks")
    prev_layout = os.path.join(store, "chunks", f"_sign_v{v0}", "layout")
    assert os.path.exists(prev_layout)

    calls = []
    orig = VectorDB._sign_build_incremental

    def spy(self, *a, **k):
        calls.append(True)
        return orig(self, *a, **k)

    monkeypatch.setattr(VectorDB, "_sign_build_incremental", spy)

    # add two, delete one, update one's content (re-embeds → may move
    # buckets): three commits, a 3-step chain
    d.add("chunks", spark.createDataFrame(
        _chunk_rows(QUESTIONS[8:10]), SCHEMAS["chunks"]))
    d.delete("chunks", spark.createDataFrame([("c3",)], "id string"))
    d.update("chunks", spark.createDataFrame(
        [("c0", None, None, None, QUESTIONS[11], None, None)],
        SCHEMAS["chunks"]))
    d.search(QUESTIONS[1], index_type="sign", k=3).collect()
    v1 = d._current_version("chunks")
    assert calls, "incremental sign build did not run"

    # parity: the incremental layout holds EXACTLY the rows a full
    # build over the v1 snapshot would
    expected = {
        (r.id, r.bucket)
        for r in d.table("chunks", version=v1).select(
            "id", ivf.sign_bucket("embedding", n_bits=4).alias("bucket")
        ).collect()
    }
    got = _layout_rows(spark, store, v1)
    assert got == expected
    assert not any(i == "c3" for i, _ in got)

    # file reuse: every bucket directory UNTOUCHED by the delta is
    # hard-linked from the previous artifact (same inode, no rewrite)
    touched = {b for i, b in expected if i in {"c100", "c101", "c0"}}
    old_rows = {(r.id, r.bucket) for r in spark.read.parquet(
        prev_layout).select("id", "bucket").collect()}
    touched |= {b for i, b in old_rows if i in {"c3", "c0"}}
    new_layout = os.path.join(store, "chunks", f"_sign_v{v1}", "layout")
    linked = rewritten = 0
    for name in os.listdir(new_layout):
        if not name.startswith("bucket="):
            continue
        b = int(name.split("=", 1)[1])
        files = [
            f for f in os.listdir(os.path.join(new_layout, name))
            if f.endswith(".parquet")
        ]
        inodes = {
            os.stat(os.path.join(new_layout, name, f)).st_nlink
            for f in files
        }
        if b not in touched and os.path.exists(
            os.path.join(prev_layout, name)
        ):
            assert all(n > 1 for n in inodes), f"bucket {b} was rewritten"
            linked += 1
        elif b in touched:
            rewritten += 1
    assert linked > 0, "no bucket directory was reused via hard links"
    assert rewritten > 0

    # provenance names the base generation and the chain length — the
    # record the registry entry gates on
    with open(os.path.join(
            store, "chunks", f"_sign_v{v1}", "provenance.json")) as f:
        prov = json.load(f)
    assert prov["base_version"] == v0 and prov["chain_commits"] == 3
    assert set(prov["buckets_rewritten"]) <= {b for _, b in expected | old_rows}


def test_sign_broken_chain_falls_back_to_full_build(spark, tmp_path, monkeypatch):
    d = _seed(spark, tmp_path, QUESTIONS[:6])
    d.search(QUESTIONS[0], index_type="sign", k=3).collect()

    calls = []
    monkeypatch.setattr(
        VectorDB, "_sign_build_incremental",
        lambda self, *a, **k: calls.append(True),
    )
    # a delta-less commit (any future bulk path) breaks the chain
    d._write("chunks", d.table("chunks").localCheckpoint(eager=True))
    d.search(QUESTIONS[1], index_type="sign", k=3).collect()
    assert not calls, "incremental build ran across a broken chain"
    v = d._current_version("chunks")
    assert os.path.exists(os.path.join(
        str(tmp_path), "chunks", f"_sign_v{v}", "_SUCCESS"))


# ---------- IVF: frozen centroids, drift ledger, retrain ----------

def test_ivf_incremental_freezes_centroids_and_tracks_drift(
    spark, tmp_path, monkeypatch
):
    d = _seed(spark, tmp_path, QUESTIONS[:10])
    store = str(tmp_path)
    d.search(QUESTIONS[0], index_type="ivf", k=3).collect()
    v0 = d._current_version("chunks")
    with open(os.path.join(
            store, "chunks", f"_ivf_v{v0}", "centroids.json")) as f:
        meta0 = json.load(f)
    assert meta0["n_at_train"] == 10 and meta0["drift"] == 0

    calls = []
    orig = VectorDB._ivf_build_incremental

    def spy(self, *a, **k):
        r = orig(self, *a, **k)
        calls.append(r)
        return r

    monkeypatch.setattr(VectorDB, "_ivf_build_incremental", spy)

    d.add("chunks", spark.createDataFrame(
        _chunk_rows([QUESTIONS[10]]), SCHEMAS["chunks"]))
    d2 = VectorDB(spark, store)  # fresh instance: forces _ivf_stored
    hits = d2.search(QUESTIONS[10], index_type="ivf", k=3).collect()
    assert calls == [True], "incremental IVF build did not run"
    # the newly-added row is its own nearest neighbour through the
    # incrementally-maintained index
    assert max(hits, key=lambda r: r.score).id == "c100"

    v1 = d2._current_version("chunks")
    with open(os.path.join(
            store, "chunks", f"_ivf_v{v1}", "centroids.json")) as f:
        meta1 = json.load(f)
    # centroids FROZEN, training provenance carried, drift = |delta|
    assert meta1["cells"] == meta0["cells"]
    assert meta1["n_at_train"] == 10 and meta1["drift"] == 1
    # assignment invariant: every live row assigned exactly once
    asg = spark.read.parquet(os.path.join(
        store, "chunks", f"_ivf_v{v1}", "assignments"))
    assert asg.count() == 11
    assert asg.select("id").distinct().count() == 11
    # the new row's cell is the frozen-centroid argmin
    new_cell = asg.filter(F.col("id") == "c100").first().cluster_id
    emb_new = d2.table("chunks").filter(F.col("id") == "c100").first().embedding
    expect = ivf.probe_clusters(meta1["cells"], list(emb_new), n_probe=1)[0]
    assert new_cell == expect


def test_ivf_retrains_past_drift_budget(spark, tmp_path, monkeypatch):
    d = _seed(spark, tmp_path, QUESTIONS[:10])
    store = str(tmp_path)
    d.search(QUESTIONS[0], index_type="ivf", k=3).collect()

    calls = []
    orig = VectorDB._ivf_build_incremental

    def spy(self, *a, **k):
        r = orig(self, *a, **k)
        calls.append(r)
        return r

    monkeypatch.setattr(VectorDB, "_ivf_build_incremental", spy)
    # 20% of 10 trained rows = 2; a 3-row delta must retrain
    d.add("chunks", spark.createDataFrame(
        _chunk_rows(QUESTIONS[9:12]), SCHEMAS["chunks"]))
    d2 = VectorDB(spark, store)
    d2.search(QUESTIONS[1], index_type="ivf", k=3).collect()
    assert calls == [False], "drift budget did not force a retrain"
    v1 = d2._current_version("chunks")
    with open(os.path.join(
            store, "chunks", f"_ivf_v{v1}", "centroids.json")) as f:
        meta1 = json.load(f)
    # a FULL build is a fresh train: ledger reset at the new corpus size
    assert meta1["n_at_train"] == 13 and meta1["drift"] == 0


def test_ivf_incremental_chain_compounds_drift(spark, tmp_path, monkeypatch):
    """Two small writes between builds: the chain composes both steps
    and the ledger carries the SUM, so drift cannot be dodged by
    splitting a big write into small ones."""
    # budget: 20% of 20 = 4 → two 1-row writes stay incremental
    # (drift 2), and the ledger shows both
    d = _seed(spark, tmp_path, QUESTIONS[:10] + [
        t.upper() for t in QUESTIONS[:10]], keep_versions=8)
    store = str(tmp_path)
    d.search(QUESTIONS[0], index_type="ivf", k=3).collect()
    d.add("chunks", spark.createDataFrame(
        _chunk_rows([QUESTIONS[10]], start=200), SCHEMAS["chunks"]))
    d.delete("chunks", spark.createDataFrame([("c3",)], "id string"))
    d2 = VectorDB(spark, store)
    d2.search(QUESTIONS[2], index_type="ivf", k=3).collect()
    v = d2._current_version("chunks")
    with open(os.path.join(
            store, "chunks", f"_ivf_v{v}", "centroids.json")) as f:
        meta = json.load(f)
    assert meta["drift"] == 2 and meta["n_at_train"] == 20
    asg = spark.read.parquet(os.path.join(
        store, "chunks", f"_ivf_v{v}", "assignments"))
    assert asg.count() == 20  # 20 seeded + 1 added - 1 deleted
    assert asg.filter(F.col("id") == "c3").count() == 0


# ---------- NSW graph: batched insertion, drift ledger ----------

def test_nsw_incremental_inserts_bidirectional_edges(
    spark, tmp_path, monkeypatch
):
    # 20 rows → drift budget 4 (20%), so the 3-row delta stays
    # incremental; keep_versions spans the 2-commit chain
    d = _seed(spark, tmp_path, QUESTIONS[:10] + [
        t.upper() for t in QUESTIONS[:10]], keep_versions=8)
    store = str(tmp_path)
    d.search(QUESTIONS[0], index_type="nsw", k=3).collect()
    v0 = d._current_version("chunks")
    with open(os.path.join(
            store, "chunks", f"_nsw_v{v0}", "meta.json")) as f:
        meta0 = json.load(f)
    assert meta0 == {"n_at_build": 20, "drift": 0}

    calls = []
    orig = VectorDB._nsw_build_incremental

    def spy(self, *a, **k):
        r = orig(self, *a, **k)
        calls.append(r)
        return r

    monkeypatch.setattr(VectorDB, "_nsw_build_incremental", spy)

    d.add("chunks", spark.createDataFrame(
        _chunk_rows([QUESTIONS[10], QUESTIONS[11]]), SCHEMAS["chunks"]))
    d.delete("chunks", spark.createDataFrame([("c4",)], "id string"))
    hits = d.search(QUESTIONS[10], index_type="nsw", k=3).collect()
    assert calls == [True], "incremental nsw build did not run"
    # the inserted node is served through the maintained graph
    assert max(hits, key=lambda r: r.score).id == "c100"

    v1 = d._current_version("chunks")
    art = os.path.join(store, "chunks", f"_nsw_v{v1}")
    rows = d._nsw_edges_df(art).collect()  # the composed LOGICAL graph
    # bidirectional insertion: each new node appears as src AND as dst
    for nid in ("c100", "c101"):
        assert any(r.src == nid for r in rows), f"{nid} has no out-edges"
        assert any(r.dst == nid for r in rows), f"{nid} has no in-edges"
    # the deleted node's edges are gone entirely
    assert not any(r.src == "c4" or r.dst == "c4" for r in rows)
    # no duplicate (src, dst) pairs survive the fwd/rev union
    assert len(rows) == len({(r.src, r.dst) for r in rows})

    # the artifact is LAYERED (r14): the corpus-sized base edge set is
    # hard-linked from the previous generation (same inodes, nothing
    # rewritten); deletions live in a churn-sized tombstone list and
    # insertions in edges_add
    base_files = [
        f for f in os.listdir(os.path.join(art, "edges"))
        if f.endswith(".parquet")
    ]
    assert base_files and all(
        os.stat(os.path.join(art, "edges", f)).st_nlink > 1
        for f in base_files
    ), "base edges were rewritten, not hard-linked"
    tombs = {r.id for r in spark.read.parquet(
        os.path.join(art, "tombstones")).collect()}
    assert tombs == {"c100", "c101", "c4"}  # every net-touched id
    adds = spark.read.parquet(os.path.join(art, "edges_add")).collect()
    assert all(
        r.src in ("c100", "c101") or r.dst in ("c100", "c101")
        for r in adds
    ), "edges_add must carry ONLY the insertions"

    with open(os.path.join(
            store, "chunks", f"_nsw_v{v1}", "meta.json")) as f:
        meta1 = json.load(f)
    assert meta1 == {"n_at_build": 20, "drift": 3}
    with open(os.path.join(
            store, "chunks", f"_nsw_v{v1}", "provenance.json")) as f:
        prov = json.load(f)
    assert prov["nodes_inserted"] == 2 and prov["nodes_removed"] == 1
    assert prov["chain_commits"] == 2 and prov["layered"] is True


def test_nsw_incremental_chains_layers_flat(spark, tmp_path, monkeypatch):
    """r14: successive incremental builds stay ONE layer deep — the
    newest artifact re-links the ORIGINAL full-build edge files and
    carries cumulative tombstones / compacted adds, so read cost never
    grows with chain length. A node upserted in an EARLIER layer and
    touched again keeps exactly its newest edges (the old add-edges
    die with the touch)."""
    d = _seed(spark, tmp_path, QUESTIONS[:10] + [
        t.upper() for t in QUESTIONS[:10]], keep_versions=10)
    store = str(tmp_path)
    d.search(QUESTIONS[0], index_type="nsw", k=3).collect()
    v0 = d._current_version("chunks")

    calls = []
    orig = VectorDB._nsw_build_incremental

    def spy(self, *a, **k):
        r = orig(self, *a, **k)
        calls.append(r)
        return r

    monkeypatch.setattr(VectorDB, "_nsw_build_incremental", spy)

    # layer 1: add c100, delete c4 (churn 2 of the 4-row budget)
    d.add("chunks", spark.createDataFrame(
        _chunk_rows([QUESTIONS[10]]), SCHEMAS["chunks"]))
    d.delete("chunks", spark.createDataFrame([("c4",)], "id string"))
    d.search(QUESTIONS[10], index_type="nsw", k=3).collect()
    v1 = d._current_version("chunks")

    # layer 2: RE-upsert c100 with new content (re-embeds: its layer-1
    # edges must die). An update's churn counts BOTH sides (new row +
    # displaced old row = 2), landing exactly on the 4-row budget.
    d.update("chunks", spark.createDataFrame(
        [("c100", None, None, None, QUESTIONS[11], None, None)],
        SCHEMAS["chunks"]))
    hits = d.search(QUESTIONS[11], index_type="nsw", k=3).collect()
    assert calls == [True, True], calls
    assert max(hits, key=lambda r: r.score).id == "c100"

    v2 = d._current_version("chunks")
    art1 = os.path.join(store, "chunks", f"_nsw_v{v1}")
    art2 = os.path.join(store, "chunks", f"_nsw_v{v2}")
    with open(os.path.join(art2, "provenance.json")) as f:
        prov = json.load(f)
    assert prov["base_version"] == v1 and prov["layered"] is True

    # flat, not recursive: layer 2's base edges are the SAME inodes as
    # the v0 full build's (and layer 1's) — linked, never copied
    base0 = os.path.join(store, "chunks", f"_nsw_v{v0}", "edges")
    inode0 = {
        os.stat(os.path.join(base0, f)).st_ino
        for f in os.listdir(base0) if f.endswith(".parquet")
    }
    inode2 = {
        os.stat(os.path.join(art2, "edges", f)).st_ino
        for f in os.listdir(os.path.join(art2, "edges"))
        if f.endswith(".parquet")
    }
    assert inode2 == inode0

    # cumulative tombstones; adds compacted to CURRENT edges only
    tombs = {r.id for r in spark.read.parquet(
        os.path.join(art2, "tombstones")).collect()}
    assert tombs == {"c100", "c4"}
    rows = d._nsw_edges_df(art2).collect()
    assert not any(r.src == "c4" or r.dst == "c4" for r in rows)
    assert len(rows) == len({(r.src, r.dst) for r in rows})
    # c100 connected through its layer-2 (re-upserted) edges
    assert any(r.src == "c100" for r in rows)
    assert any(r.dst == "c100" for r in rows)
    # meta ledger accumulated both layers' churn against the v0 datum
    with open(os.path.join(art2, "meta.json")) as f:
        assert json.load(f) == {"n_at_build": 20, "drift": 4}
    # ...and layer 1 is untouched on disk (readers may still hold it)
    assert {r.id for r in spark.read.parquet(
        os.path.join(art1, "tombstones")).collect()} == {"c100", "c4"}


def test_nsw_rebuilds_past_drift_budget(spark, tmp_path, monkeypatch):
    d = _seed(spark, tmp_path, QUESTIONS[:10], keep_versions=8)
    store = str(tmp_path)
    d.search(QUESTIONS[0], index_type="nsw", k=3).collect()

    calls = []
    orig = VectorDB._nsw_build_incremental

    def spy(self, *a, **k):
        r = orig(self, *a, **k)
        calls.append(r)
        return r

    monkeypatch.setattr(VectorDB, "_nsw_build_incremental", spy)
    # 20% of 10 = 2; a 3-row add must rebuild the graph from scratch
    d.add("chunks", spark.createDataFrame(
        _chunk_rows(QUESTIONS[9:12]), SCHEMAS["chunks"]))
    d.search(QUESTIONS[1], index_type="nsw", k=3).collect()
    assert calls == [False], "drift budget did not force a graph rebuild"
    v1 = d._current_version("chunks")
    with open(os.path.join(
            store, "chunks", f"_nsw_v{v1}", "meta.json")) as f:
        meta = json.load(f)
    assert meta == {"n_at_build": 13, "drift": 0}  # fresh ledger


def test_apply_changes_reconstructs_the_live_table(spark, tmp_path):
    """r14: the consumer-side operator — apply_changes(snapshot@since,
    feed) must equal snapshot@live EXACTLY (full rows, timestamps
    included), through adds, updates, deletes, and in-range churn."""
    from local_vectordb_spark.operators.incremental import apply_changes

    d = _seed(spark, tmp_path, QUESTIONS[:6], keep_versions=8)
    v0 = d._current_version("chunks")
    d.add("chunks", spark.createDataFrame(
        _chunk_rows(QUESTIONS[8:10]), SCHEMAS["chunks"]))
    d.update("chunks", spark.createDataFrame(
        [("c1", None, None, None, "rewritten", None, None)],
        SCHEMAS["chunks"]))
    d.delete("chunks", spark.createDataFrame([("c2",)], "id string"))
    d.delete("chunks", spark.createDataFrame([("c101",)], "id string"))

    base = d.table("chunks", version=v0).drop("metadata")
    feed = d.table_changes("chunks", since_version=v0)
    mirror = apply_changes(base, feed, key_col="id")
    live = d.table("chunks").drop("metadata")
    assert mirror.exceptAll(live).count() == 0
    assert live.exceptAll(mirror).count() == 0
    # 6 seeded + c100 (c101 churned in-range, c2 deleted) = 6
    assert mirror.count() == live.count() == 6


# ---------- change-data feed (table_changes) ----------

def test_table_changes_nets_and_refuses_partial_feeds(spark, tmp_path):
    d = _seed(spark, tmp_path, QUESTIONS[:6], keep_versions=8)
    v0 = d._current_version("chunks")

    # chain: add c100+c101, update c1's content, delete c2, delete c101
    # (added AND removed in-range: nets out of the feed entirely)
    d.add("chunks", spark.createDataFrame(
        _chunk_rows(QUESTIONS[8:10]), SCHEMAS["chunks"]))
    d.update("chunks", spark.createDataFrame(
        [("c1", None, None, None, "rewritten", None, None)],
        SCHEMAS["chunks"]))
    d.delete("chunks", spark.createDataFrame([("c2",)], "id string"))
    d.delete("chunks", spark.createDataFrame([("c101",)], "id string"))

    feed = {
        (r.change_type, r.id, r.content)
        for r in d.table_changes("chunks", since_version=v0).collect()
    }
    assert feed == {
        ("upsert", "c100", QUESTIONS[8]),
        ("upsert", "c1", "rewritten"),   # final state, appears once
        ("remove", "c2", QUESTIONS[2]),  # base state carried
    }

    # since == live: a valid EMPTY feed with the full schema
    live = d._current_version("chunks")
    empty = d.table_changes("chunks", since_version=live)
    assert empty.count() == 0
    assert empty.columns[0] == "change_type"

    # a bounded target version: only the first commit's changes
    part = {
        (r.change_type, r.id)
        for r in d.table_changes(
            "chunks", since_version=v0, version=v0 + 1
        ).collect()
    }
    assert part == {("upsert", "c100"), ("upsert", "c101")}

    # a range crossing the delta-less INITIAL load refuses loudly:
    # a silently partial feed would corrupt every downstream consumer —
    # with the TYPED broken-chain error (r14: HTTP maps it to 410 by
    # type; a bad version stays a plain ValueError → 404)
    with pytest.raises(api_mod.IncompleteChangeLog):
        d.table_changes("chunks", since_version=-1)
    # out-of-range endpoints refuse too
    with pytest.raises(ValueError, match="not available"):
        d.table_changes("chunks", since_version=v0, version=live + 5)
    with pytest.raises(ValueError, match="out of range"):
        d.table_changes("chunks", since_version=live + 1)


def test_data_commits_are_delta_proportional(spark, tmp_path):
    """r17: the versioned DATA snapshot itself is maintained at cost ∝
    churn — a delta commit rewrites only the hash buckets the delta
    touches and hard-links every untouched bucket directory from the
    previous generation (the same shape the CDF mirror and the index
    artifacts already use; before r17 every commit rewrote the whole
    table, the last corpus-bound cost in the write path). Layout
    lifecycle: bulk load is flat; the first delta commit upgrades to
    the bucketed layout wholesale; later delta commits go incremental;
    emptying the table falls back to a readable flat write. Readers
    never see the physical bucket column."""
    import os
    import uuid as _uuid

    from local_vectordb_spark.api import VectorDB
    from local_vectordb_spark.sources.json_records import SCHEMAS

    B = 8
    d = VectorDB(spark, str(tmp_path / "s"), keep_versions=6,
                 data_buckets=B)
    lib = str(_uuid.uuid4())
    d.add("libraries",
          spark.createDataFrame([(lib, {}, None, None, "l")],
                                SCHEMAS["libraries"]))
    doc = str(_uuid.uuid4())
    d.add("documents",
          spark.createDataFrame([(doc, {}, None, None, "d", lib)],
                                SCHEMAS["documents"]))

    def rows(ids):
        return spark.createDataFrame(
            [(i, {}, None, None, f"content {i}", None, doc) for i in ids],
            SCHEMAS["chunks"],
        )

    cdir = os.path.join(str(tmp_path / "s"), "chunks")

    # bulk load -> FLAT (no delta chain to extend, write cost is the
    # corpus either way)
    d.add("chunks", rows([f"c{i:03d}" for i in range(64)]))
    v1 = d._current_version("chunks")
    assert generation_buckets(os.path.join(cdir, f"v{v1}")) is None

    # first delta commit -> wholesale UPGRADE to the bucketed layout
    d.add("chunks", rows(["late0"]))
    v2 = d._current_version("chunks")
    v2d = os.path.join(cdir, f"v{v2}")
    assert generation_buckets(v2d) == B
    assert any(n.startswith("bucket=") for n in os.listdir(v2d))

    # second delta commit -> INCREMENTAL: only touched buckets
    # rewritten, untouched bucket files are the SAME inodes as v2's
    d.add("chunks", rows(["late1"]))
    v3 = d._current_version("chunks")
    v3d = os.path.join(cdir, f"v{v3}")
    assert generation_buckets(v3d) == B

    def bucket_inodes(vdir):
        out = {}
        for name in os.listdir(vdir):
            if name.startswith("bucket="):
                out[name] = {
                    os.stat(os.path.join(vdir, name, f)).st_ino
                    for f in os.listdir(os.path.join(vdir, name))
                    if f.endswith(".parquet")
                }
        return out
    i2, i3 = bucket_inodes(v2d), bucket_inodes(v3d)
    linked = [b for b in i3 if b in i2 and i3[b] == i2[b]]
    rewritten = [b for b in i3 if b not in linked]
    assert linked, (i2, i3)          # untouched buckets: linked through
    assert 1 <= len(rewritten) <= 2  # one new id touches ≤1 bucket (+
    #                                  nothing else) — cost ∝ churn
    assert all(
        os.stat(os.path.join(v3d, b, f)).st_nlink >= 2
        for b in linked
        for f in os.listdir(os.path.join(v3d, b)) if f.endswith(".parquet")
    )

    # content is exactly base + delta, and the physical bucket column
    # never leaks into the table schema
    t = d.table("chunks")
    assert "bucket" not in t.columns
    assert t.count() == 66
    assert {r.id for r in t.select("id").collect()} == (
        {f"c{i:03d}" for i in range(64)} | {"late0", "late1"}
    )

    # deletes ride the same incremental path
    d.delete("chunks", spark.createDataFrame(
        [(f"c{i:03d}",) for i in range(0, 64, 2)], "id string"))
    assert d.table("chunks").count() == 34

    # the change feed over the bucketed generations still nets exactly
    feed = d.table_changes("chunks", v1).groupBy("change_type").count()
    got = {r.change_type: r["count"] for r in feed.collect()}
    assert got == {"upsert": 2, "remove": 32}

    # emptying the table falls back to a readable flat write
    d.delete("chunks", d.table("chunks").select("id"))
    assert d.table("chunks").count() == 0

    # time travel across layouts: the flat bulk generation still reads
    assert d.table("chunks", version=v1).count() == 64


def test_data_bucket_count_self_sizes_and_rebalances(spark, tmp_path):
    """r17: with no explicit bucket count the layout SELF-SIZES from
    the previous generation's bytes — one bucket ≈ one task-sized
    split, floored at 16 so small stores stay a small-file read — and
    a corpus that outgrows its layout (bytes/bucket > 4× target)
    triggers exactly one wholesale re-layout at the new count on its
    next delta commit. An explicit count pins B and disables both."""
    import os
    import uuid as _uuid

    from local_vectordb_spark.api import VectorDB
    from local_vectordb_spark.sources.json_records import SCHEMAS

    def mk(root, **kw):
        d = VectorDB(spark, str(tmp_path / root), keep_versions=6, **kw)
        lib = str(_uuid.uuid4())
        d.add("libraries",
              spark.createDataFrame([(lib, {}, None, None, "l")],
                                    SCHEMAS["libraries"]))
        doc = str(_uuid.uuid4())
        d.add("documents",
              spark.createDataFrame([(doc, {}, None, None, "d", lib)],
                                    SCHEMAS["documents"]))
        return d, doc

    def rows(doc, ids, pad=""):
        return spark.createDataFrame(
            [(i, {}, None, None, f"content {i}{pad}", None, doc)
             for i in ids],
            SCHEMAS["chunks"],
        )

    def buckets_of(d, root):
        v = d._current_version("chunks")
        return generation_buckets(
            os.path.join(str(tmp_path / root), "chunks", f"v{v}"))

    # default target (128 MiB): a fixture-scale store sizes to the 16
    # floor on its first delta commit
    d1, doc1 = mk("auto")
    d1.add("chunks", rows(doc1, [f"a{i}" for i in range(32)]))
    d1.add("chunks", rows(doc1, ["a_late"]))
    assert buckets_of(d1, "auto") == 16

    # a tiny target makes bytes dominate: the same store sizes ABOVE
    # the floor, and a growth burst past 4x bytes/bucket triggers one
    # wholesale re-layout at a larger B on the next delta commit
    d2, doc2 = mk("drift", data_bucket_target_bytes=512)
    d2.add("chunks", rows(doc2, [f"b{i}" for i in range(32)]))
    d2.add("chunks", rows(doc2, ["b_late"]))
    b_first = buckets_of(d2, "drift")
    assert b_first > 16
    # grow the corpus well past 4x bytes/bucket (padded content), then
    # one more small commit must re-layout at a bigger count
    d2.add("chunks", rows(doc2, [f"c{i}" for i in range(256)],
                          pad="x" * 200))
    d2.add("chunks", rows(doc2, ["c_late"]))
    b_second = buckets_of(d2, "drift")
    assert b_second > b_first, (b_first, b_second)
    assert d2.table("chunks").count() == 32 + 1 + 256 + 1
    assert "bucket" not in d2.table("chunks").columns

    # an explicit count pins B: no sizing, no rebalance
    d3, doc3 = mk("pinned", data_buckets=4,
                  data_bucket_target_bytes=512)
    d3.add("chunks", rows(doc3, [f"p{i}" for i in range(32)]))
    d3.add("chunks", rows(doc3, ["p_late"]))
    assert buckets_of(d3, "pinned") == 4
    d3.add("chunks", rows(doc3, [f"q{i}" for i in range(256)],
                          pad="x" * 200))
    d3.add("chunks", rows(doc3, ["q_late"]))
    assert buckets_of(d3, "pinned") == 4


def test_data_bucket_cap_keeps_extending_incrementally(spark, tmp_path):
    """r17 ADVICE (medium): once the self-sizing hits the 8192-bucket
    cap, every generation looks permanently 'outgrown' (bytes/bucket
    keeps growing but _auto_b can't return more than the cap) — the
    pre-fix code set extend=False there, so EVERY later delta commit
    did a wholesale full-corpus rewrite forever, exactly the
    corpus-bound cost the delta path exists to remove. At the cap (or
    whenever the re-sizing resolves to the SAME count) the layout must
    keep extending incrementally: hard-linked untouched buckets, not a
    rewrite. Reproduced at fixture scale with a 1-byte target, which
    makes every generation permanently outgrown by construction."""
    import os
    import uuid as _uuid

    from local_vectordb_spark.api import VectorDB
    from local_vectordb_spark.sources.json_records import SCHEMAS

    d = VectorDB(spark, str(tmp_path / "cap"), keep_versions=6,
                 data_bucket_target_bytes=1)
    lib = str(_uuid.uuid4())
    d.add("libraries",
          spark.createDataFrame([(lib, {}, None, None, "l")],
                                SCHEMAS["libraries"]))
    doc = str(_uuid.uuid4())
    d.add("documents",
          spark.createDataFrame([(doc, {}, None, None, "d", lib)],
                                SCHEMAS["documents"]))

    def rows(ids):
        # padded content keeps every generation safely past the 4x
        # outgrown threshold at B=8192 (the condition under test)
        return spark.createDataFrame(
            [(i, {}, None, None, f"content {i}" + "x" * 400, None, doc)
             for i in ids],
            SCHEMAS["chunks"],
        )

    cdir = os.path.join(str(tmp_path / "cap"), "chunks")

    def gen_dir():
        return os.path.join(cdir, f"v{d._current_version('chunks')}")

    d.add("chunks", rows([f"c{i:03d}" for i in range(48)]))  # flat bulk
    d.add("chunks", rows(["late0"]))   # upgrade: bucketed at auto B
    d.add("chunks", rows(["late1"]))   # outgrown, B jumps to the cap
    vcap = gen_dir()
    assert generation_buckets(vcap) == 8192

    # the decisive commit: prev is AT the cap and still 'outgrown' —
    # it must extend (same _BUCKETS, untouched bucket files are the
    # same inodes), not re-layout wholesale
    d.add("chunks", rows(["late2"]))
    vnext = gen_dir()
    assert vnext != vcap
    assert generation_buckets(vnext) == 8192

    def bucket_files(vdir):
        out = {}
        for name in os.listdir(vdir):
            if name.startswith("bucket="):
                out[name] = {
                    os.stat(os.path.join(vdir, name, f)).st_ino
                    for f in os.listdir(os.path.join(vdir, name))
                    if f.endswith(".parquet")
                }
        return out

    icap, inext = bucket_files(vcap), bucket_files(vnext)
    linked = [b for b in inext if b in icap and inext[b] == icap[b]]
    rewritten = [b for b in inext if b not in linked]
    assert linked, "capped layout stopped hard-linking (wholesale loop)"
    assert 1 <= len(rewritten) <= 2, rewritten  # cost ∝ churn at the cap
    assert d.table("chunks").count() == 51
    assert {r.id for r in d.table("chunks").select("id").collect()} >= \
        {"late0", "late1", "late2"}


def test_data_commit_tolerates_hive_default_partition_dir(spark,
                                                          tmp_path):
    """r17 ADVICE (low): a `bucket=__HIVE_DEFAULT_PARTITION__` dir in
    the previous generation (the hive name for a null partition value)
    made the link loop's int() parse raise an uncaught ValueError,
    aborting the commit outside the wholesale fallback. The guard now
    routes such layouts to the wholesale write — the commit succeeds
    and the data survives."""
    import os
    import uuid as _uuid

    from local_vectordb_spark.api import VectorDB
    from local_vectordb_spark.sources.json_records import SCHEMAS

    d = VectorDB(spark, str(tmp_path / "hd"), keep_versions=6,
                 data_buckets=8)
    lib = str(_uuid.uuid4())
    d.add("libraries",
          spark.createDataFrame([(lib, {}, None, None, "l")],
                                SCHEMAS["libraries"]))
    doc = str(_uuid.uuid4())
    d.add("documents",
          spark.createDataFrame([(doc, {}, None, None, "d", lib)],
                                SCHEMAS["documents"]))

    def rows(ids):
        return spark.createDataFrame(
            [(i, {}, None, None, f"content {i}", None, doc) for i in ids],
            SCHEMAS["chunks"],
        )

    d.add("chunks", rows([f"c{i}" for i in range(16)]))
    d.add("chunks", rows(["late0"]))  # now on the bucketed layout
    cdir = os.path.join(str(tmp_path / "hd"), "chunks")
    vdir = os.path.join(cdir, f"v{d._current_version('chunks')}")
    assert generation_buckets(vdir) == 8
    os.makedirs(os.path.join(vdir, "bucket=__HIVE_DEFAULT_PARTITION__"))

    d.add("chunks", rows(["late1"]))  # pre-fix: ValueError, commit dead
    t = d.table("chunks")
    assert t.count() == 18
    assert "bucket" not in t.columns
    # and the NEXT commit (previous generation numeric again) resumes
    # the incremental path
    d.add("chunks", rows(["late2"]))
    assert d.table("chunks").count() == 19


def test_sign_layout_self_sizes_subpartitions(spark, tmp_path):
    """r17 verdict #7: the stored sign layout reuses the data
    snapshot's self-sizing policy. The 16 sign buckets are SEMANTIC
    (more bits would change the probe set and every oracle), so the
    scale lever is an id-hash SUB-partition under each sign bucket,
    sized from the generation's bytes (S=1 at fixture scale — the
    pre-r18 layout byte-identical; forced here with a tiny target).
    The probe must still partition-prune on `bucket`, results must be
    identical to the flat layout's, and incremental maintenance must
    carry the width and keep hard-linking untouched buckets."""
    from local_vectordb_spark import plans

    texts = QUESTIONS + [f"filler question number {i}" for i in range(20)]

    d_flat = _seed(spark, tmp_path / "flat", texts, keep_versions=4)
    d_sub = VectorDB(spark, str(tmp_path / "sub"), keep_versions=4,
                     data_bucket_target_bytes=256)
    d_sub.add("libraries", spark.createDataFrame(
        [("lib0", {}, None, None, "l")], SCHEMAS["libraries"]))
    d_sub.add("documents", spark.createDataFrame(
        [("d0", {}, None, None, "d", "lib0")], SCHEMAS["documents"]))
    d_sub.add("chunks", spark.createDataFrame(
        [(f"c{i}", {}, None, None, t, None, "d0")
         for i, t in enumerate(texts)],
        SCHEMAS["chunks"]))

    qv = [float(x) for x in d_flat.table("chunks").orderBy("id")
          .limit(1).collect()[0].embedding]
    flat_hits = [(r.id, round(r.score, 6)) for r in
                 d_flat.search(query_vec=qv, index_type="sign",
                               k=5).collect()]
    sub_hits = [(r.id, round(r.score, 6)) for r in
                d_sub.search(query_vec=qv, index_type="sign",
                             k=5).collect()]
    assert sub_hits == flat_hits

    v_flat = d_flat._current_version("chunks")
    v_sub = d_sub._current_version("chunks")
    lay_flat = os.path.join(str(tmp_path / "flat"), "chunks",
                            f"_sign_v{v_flat}", "layout")
    lay_sub = os.path.join(str(tmp_path / "sub"), "chunks",
                           f"_sign_v{v_sub}", "layout")

    def leaf_shape(layout):
        subs = set()
        for b in os.listdir(layout):
            if not b.startswith("bucket="):
                continue
            for entry in os.listdir(os.path.join(layout, b)):
                if entry.startswith("sub="):
                    subs.add(entry)
        return subs

    assert leaf_shape(lay_flat) == set()      # default: pre-r18 layout
    assert len(leaf_shape(lay_sub)) > 1       # forced: real subs
    assert os.path.exists(os.path.join(os.path.dirname(lay_sub),
                                       "_SUBS"))
    # S matches the policy: ceil(bytes / 16 / target), clamped
    assert d_sub._sign_subs(v_sub) > 1

    # the sub column never leaks to consumers, and the probe still
    # partition-prunes on bucket (directory pruning, not row filter)
    probe = d_sub._sign_stored(v_sub).filter(F.col("bucket").isin([0, 1]))
    assert "sub" not in probe.columns
    plan = plans.plan_string(probe)
    assert "PartitionFilters" in plan
    idx = plan.index("PartitionFilters")
    assert "bucket" in plan[idx: idx + 300]

    # incremental maintenance carries the width: one small commit
    # rewrites only touched buckets (in the S-shape), links the rest
    d_sub.add("chunks", spark.createDataFrame(
        _chunk_rows(["a brand new late question"]), SCHEMAS["chunks"]))
    d_sub.search(query_vec=qv, index_type="sign", k=5).collect()
    v2 = d_sub._current_version("chunks")
    art2 = os.path.join(str(tmp_path / "sub"), "chunks", f"_sign_v{v2}")
    assert os.path.exists(os.path.join(art2, "provenance.json"))
    with open(os.path.join(art2, "_SUBS")) as f:
        assert int(f.read()) == int(open(os.path.join(
            os.path.dirname(lay_sub), "_SUBS")).read())
    with open(os.path.join(art2, "provenance.json")) as f:
        prov = json.load(f)
    rewritten = set(prov["buckets_rewritten"])
    linked = 0
    for b in os.listdir(os.path.join(art2, "layout")):
        if not b.startswith("bucket="):
            continue
        if int(b.split("=", 1)[1]) in rewritten:
            continue
        for r, _dd, fs in os.walk(os.path.join(art2, "layout", b)):
            for fname in fs:
                if fname.endswith(".parquet"):
                    assert os.stat(os.path.join(r, fname)).st_nlink >= 2
                    linked += 1
    assert linked > 0
    # and the maintained layout still serves correctly
    sub_hits2 = [(r.id, round(r.score, 6)) for r in
                 d_sub.search(query_vec=qv, index_type="sign",
                              k=5).collect()]
    d_flat.add("chunks", spark.createDataFrame(
        _chunk_rows(["a brand new late question"]), SCHEMAS["chunks"]))
    flat_hits2 = [(r.id, round(r.score, 6)) for r in
                  d_flat.search(query_vec=qv, index_type="sign",
                                k=5).collect()]
    assert sub_hits2 == flat_hits2


def test_mirror_bucket_width_self_sizes():
    """The store and the CDF mirror size their bucket count with one
    function: the 16 floor at test scale, one bucket per task-sized
    split past it, capped at 8192. Pure policy math; the end-to-end
    bootstrap path is covered in test_streaming and BENCH_scale."""
    t = 128 << 20
    assert auto_buckets(0) == 16
    assert auto_buckets(10 * t) == 16
    assert auto_buckets(100 * t) == 100
    assert auto_buckets(10**15) == 8192  # capped
    assert auto_buckets(100 * 512, 512) == 100
