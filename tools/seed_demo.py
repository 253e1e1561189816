"""Seed-and-query demo: the analogue of the reference's `make seed`
(/root/reference/Makefile:30-33 = reset → load → query) and its loader
script (/root/reference/tests/e2e.py:98-108, which pulls 10 TREC rows
and drives the live REST API).

Here the sample corpus is the first 10 rows of the deterministic
sf0.001 documents fixture instead of a network dataset download, and
the REST server is the stdlib serving adapter over VectorDB — same
routes, same flow:

    python tools/seed_demo.py ["your query text"]

1. start an in-process HTTP server on a fresh temp database
2. POST /reset, create a library, load 10 documents + chunks over HTTP
3. POST /query (cosine) with the given text (default mirrors the
   reference's seed query) and print the hydrated results
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import threading
import urllib.request

# the checkout this tool belongs to, whatever its path
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from local_vectordb_spark.api import VectorDB  # noqa: E402
from local_vectordb_spark.serving import make_server  # noqa: E402
from local_vectordb_spark.session import get_spark, load_table  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
DEFAULT_QUERY = "What is the capital of Germany?"


def _req(base: str, method: str, path: str, body: dict | None = None):
    data = None if body is None else json.dumps(body).encode()
    req = urllib.request.Request(base + path, data=data, method=method)
    req.add_header("Content-Type", "application/json")
    with urllib.request.urlopen(req) as resp:
        raw = resp.read()
        return json.loads(raw) if raw else None


def seed(base: str, spark, n_docs: int = 10) -> str:
    """reset → library → n documents (one chunk each) over HTTP,
    mirroring the reference loader's library→document→chunk shape."""
    _req(base, "POST", "/reset")
    lib = _req(base, "POST", "/libraries", {"name": "demo-corpus"})
    rows = (
        load_table(spark, SF_DIR, "documents")
        .orderBy("doc_id")
        .limit(n_docs)
        .collect()
    )
    for r in rows:
        doc = _req(
            base,
            "POST",
            "/documents",
            {"name": f"doc-{r.doc_id}", "library_id": lib["id"]},
        )
        _req(
            base,
            "POST",
            "/chunks",
            {
                "document_id": doc["id"],
                "content": r.text,
                "metadata": {"lang": r.lang, "source": r.source},
            },
        )
    print(f"Seeded library {lib['id']} with {len(rows)} documents")
    return lib["id"]


def query(base: str, text: str, index_type: str = "cosine") -> list[dict]:
    out = _req(
        base, "POST", "/query", {"text": text, "index_type": index_type, "limit": 5}
    )
    results = out["results"]
    print(f"Query: {text!r} ({index_type}) -> {len(results)} results")
    for r in results:
        print(f"  {r['id']}  conf={r['confidence']:.6f}  {r['content'][:60]!r}")
    return results


def main() -> None:
    text = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_QUERY
    spark = get_spark("seed_demo")
    spark.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory() as tmp:
        db = VectorDB(spark, tmp)
        srv = make_server(db)
        t = threading.Thread(target=srv.serve_forever, daemon=True)
        t.start()
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        try:
            seed(base, spark)
            query(base, text)
        finally:
            srv.shutdown()


if __name__ == "__main__":
    main()
