"""The covering sign layout `_sign_v{N}`.

The layout carries every column a sign, sq8 or pq search reads
(``api.SIGN_LAYOUT_COLS``): the vector, its sign bucket, the SQ8
triple, the md5-codebook PQ codes, and the row's metadata and content.
So those searches filter, rank and hydrate from the layout rows alone.
These tests pin what that needs: an incrementally extended layout
equals a fresh full build on every column, after content-only and
metadata-only updates too; every such search serves the updated
content and metadata; a store whose dimension the PQ book cannot split
still builds its layout, and pq refuses it as before. The plan shapes
(no scan of the generation, no Python worker) are gated in
test_plans.py."""

from __future__ import annotations

import json
import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from local_vectordb_spark.api import SIGN_LAYOUT_COLS, VectorDB
from local_vectordb_spark.sources.json_records import SCHEMAS

N = 32


def _row_key(r):
    """A hashable, exact form of one layout row (map and arrays as
    sorted tuples, floats compared bit for bit)."""
    out = []
    for c in SIGN_LAYOUT_COLS:
        v = r[c]
        if isinstance(v, dict):
            v = tuple(sorted(v.items()))
        elif isinstance(v, list):
            v = tuple(float.hex(x) if isinstance(x, float) else x for x in v)
        elif isinstance(v, float):
            v = float.hex(v)
        out.append(v)
    return tuple(out)


def _layout(spark, path):
    rows = spark.read.parquet(path).select(*SIGN_LAYOUT_COLS).collect()
    return sorted(_row_key(r) for r in rows)


def _embedding(d, cid):
    row = d.table("chunks").filter(F.col("id") == cid).first()
    return [float(x) for x in row.embedding]


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """A written store whose sign layout was built at the seed
    generation, then extended through an add, a content-only update,
    a metadata-only update and a delete."""
    d = VectorDB(
        spark, str(tmp_path_factory.mktemp("covering_db")), keep_versions=8
    )
    lib, doc = str(uuid.uuid4()), str(uuid.uuid4())
    d.add("libraries", spark.createDataFrame(
        [(lib, {}, None, None, "l")], SCHEMAS["libraries"]))
    d.add("documents", spark.createDataFrame(
        [(doc, {}, None, None, "d", lib)], SCHEMAS["documents"]))
    d.add("chunks", spark.createDataFrame(
        [(f"c{i:02d}", {"label": "ab"[i % 2]}, None, None,
          f"covering row {i} on theme {i % 5}", None, doc) for i in range(N)],
        SCHEMAS["chunks"]))
    d.search("covering row 1", index_type="sign", k=3).collect()
    v0 = d._current_version("chunks")
    d.add("chunks", spark.createDataFrame(
        [("c90", {"label": "a"}, None, None, "an added row about gardens",
          None, doc)],
        SCHEMAS["chunks"]))
    d.update("chunks", spark.createDataFrame(
        [("c02", None, None, None, "rewritten text about harbours", None,
          None)],
        SCHEMAS["chunks"]))
    d.update("chunks", spark.createDataFrame(
        [("c05", {"label": "b", "tier": "gold"}, None, None, None, None, None)],
        SCHEMAS["chunks"]))
    d.delete("chunks", spark.createDataFrame([("c07",)], "id string"))
    d.search("covering row 1", index_type="sign", k=3).collect()
    return d, v0, d._current_version("chunks")


@pytest.mark.parametrize("index_type", ["sign", "pq", "sq8"])
def test_layout_searches_serve_updated_content_and_metadata(
    store, index_type
):
    """Runs before the parity test below replaces the incrementally
    extended layout with a full build."""
    d, _, _ = store
    qv = _embedding(d, "c02")
    top = d.search(query_vec=qv, index_type=index_type, k=3).collect()
    assert (top[0].id, top[0].content) == (
        "c02", "rewritten text about harbours"
    )

    # c05 moved from label a to b: a filter reads its new metadata
    qv = _embedding(d, "c05")
    gold = d.search(query_vec=qv, index_type=index_type, k=5,
                    metadata={"tier": "gold"}).collect()
    assert [r.id for r in gold] == ["c05"]
    assert gold[0].content == "covering row 5 on theme 0"
    in_b = d.search(query_vec=qv, index_type=index_type, k=50,
                    metadata={"label": "b"}).collect()
    in_a = d.search(query_vec=qv, index_type=index_type, k=50,
                    metadata={"label": "a"}).collect()
    assert in_b[0].id == "c05"
    assert "c05" not in {r.id for r in in_a}
    assert "c07" not in {r.id for r in in_a + in_b}


def test_incremental_layout_equals_full_build_on_every_column(
    spark, store, tmp_path, monkeypatch
):
    d, v0, v = store
    art = os.path.join(d._table_dir("chunks"), f"_sign_v{v}")
    with open(os.path.join(art, "provenance.json")) as f:
        prov = json.load(f)
    assert prov["base_version"] == v0 and prov["chain_commits"] == 4
    incremental = _layout(spark, os.path.join(art, "layout"))

    kept = str(tmp_path / "incremental_sign")
    shutil.copytree(art, kept)
    shutil.rmtree(art)
    monkeypatch.setattr(VectorDB, "_incremental_base", lambda self, *a: None)
    d._sign_stored(v)  # full build over the same generation
    assert not os.path.exists(os.path.join(art, "provenance.json"))
    full = _layout(spark, os.path.join(art, "layout"))

    assert incremental == full
    assert len(full) == N  # +1 added, -1 deleted
    by_id = {r[0]: r for r in full}
    meta = SIGN_LAYOUT_COLS.index("metadata")
    content = SIGN_LAYOUT_COLS.index("content")
    assert "c07" not in by_id
    assert by_id["c02"][content] == "rewritten text about harbours"
    assert dict(by_id["c05"][meta]) == {"label": "b", "tier": "gold"}
    assert by_id["c90"][content] == "an added row about gardens"
    assert all(r[SIGN_LAYOUT_COLS.index("pq")] is not None for r in full)


def test_unsplittable_dimension_builds_layout_and_pq_refuses(spark, tmp_path):
    """12-d vectors: the 8-subspace PQ book cannot split them. The
    layout still builds (NULL ``pq`` codes), sign serves from it, and
    pq raises the codebook's ValueError as it did when it encoded
    inline."""
    import random

    rng = random.Random(5)
    d = VectorDB(spark, str(tmp_path))
    lib, doc = str(uuid.uuid4()), str(uuid.uuid4())
    d.add("libraries", spark.createDataFrame(
        [(lib, {}, None, None, "l")], SCHEMAS["libraries"]))
    d.add("documents", spark.createDataFrame(
        [(doc, {}, None, None, "d", lib)], SCHEMAS["documents"]))
    vecs = [[rng.uniform(-1, 1) for _ in range(12)] for _ in range(10)]
    d.add("chunks", spark.createDataFrame(
        [(f"c{i}", {}, None, None, f"twelve {i}", v, doc)
         for i, v in enumerate(vecs)], SCHEMAS["chunks"]))
    hits = d.search(query_vec=vecs[3], index_type="sign", k=2).collect()
    assert hits[0].id == "c3" and hits[0].content == "twelve 3"
    lay = d._sign_stored(d._current_version("chunks"))
    assert lay.filter(F.col("pq").isNotNull()).count() == 0
    assert lay.count() == 10
    with pytest.raises(ValueError, match="dim 12 not divisible by m 8"):
        d.search(query_vec=vecs[3], index_type="pq", k=2)
