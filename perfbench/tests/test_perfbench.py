"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import signal
import subprocess
import sys
import threading
import time

import pytest

from perfbench import corpus as C
from perfbench import run as R

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_same_seed_gives_identical_inputs(tmp_path):
    a, b = C.serve_corpus(7), C.serve_corpus(7)
    assert a["ids"] == b["ids"] and a["content"] == b["content"]
    assert a["emb"].tobytes() == b["emb"].tobytes()
    assert a["label"].tobytes() == b["label"].tobytes()
    assert C.ops_bytes(C.read_ops(7, a, 500)) == C.ops_bytes(C.read_ops(7, b, 500))
    for i, table in enumerate((C.chunks_table(a), C.chunks_table(b),
                               C.curate_documents(7), C.curate_documents(7))):
        C.write_parquet(table, str(tmp_path / f"t{i}.parquet"))
    assert _digest(tmp_path / "t0.parquet") == _digest(tmp_path / "t1.parquet")
    assert _digest(tmp_path / "t2.parquet") == _digest(tmp_path / "t3.parquet")
    other = C.serve_corpus(8)
    assert C.ops_bytes(C.read_ops(8, other, 500)) != C.ops_bytes(C.read_ops(7, a, 500))
    assert C.curate_documents(8) != C.curate_documents(7)


def test_every_read_cycle_has_the_same_mix():
    ops = C.read_ops(3, C.serve_corpus(3), 10 * C.CYCLE)
    other = C.read_ops(4, C.serve_corpus(4), 10 * C.CYCLE)
    pairs = sorted((s, k) for s in C.STRATEGIES for k in C.KS)

    def mix(cycle):
        return sorted((o["index_type"], o["limit"], o["label"] is None) for o in cycle)

    for c in range(10):
        cycle = ops[c * C.CYCLE:(c + 1) * C.CYCLE]
        assert sorted((o["index_type"], o["limit"]) for o in cycle) == pairs
        assert sum(o["label"] is not None for o in cycle) == C.FILTERED_PER_CYCLE
        # the filtered pairs depend on the cycle, not on the seed
        assert mix(cycle) == mix(other[c * C.CYCLE:(c + 1) * C.CYCLE])


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(R.WORKLOADS)
    assert [m["name"] for m in spec["end_to_end"]] == list(R.E2E)
    assert [m["name"] for m in spec["per_layer"]] == R.per_layer_names()


def test_tree_cpu_charges_a_descendant_to_workers():
    from perfbench.cpu import LAYERS, TreeCPU, delta

    # a stand-in for the JVM, whose child burns 0.4 s of CPU and then idles
    burn = ("import time\nt = time.process_time()\n"
            "while time.process_time() - t < 0.4: pass\ntime.sleep(60)")
    jvm = subprocess.Popen([sys.executable, "-c",
                            f"import subprocess, sys; subprocess.run([sys.executable, '-c', {burn!r}])"],
                           start_new_session=True)
    try:
        cpu = TreeCPU(jvm.pid)
        a = cpu.snapshot()
        deadline = time.monotonic() + 30
        while delta(a, cpu.snapshot())["workers"] < 300 and time.monotonic() < deadline:
            time.sleep(0.1)
        d = delta(a, cpu.snapshot())
    finally:
        os.killpg(jvm.pid, signal.SIGKILL)
        jvm.wait()
    assert d["workers"] >= 300
    assert d["total"] == sum(d[k] for k in LAYERS)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["SPARK_GRAFT_CPUS"] = str(R.CPUS)
    os.environ["SPARK_DRIVER_MEM"] = R.DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp_path_factory.mktemp("spark-local"))
    from local_vectordb_spark.session import get_spark

    s = get_spark("perfbench-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    R._stop(s)


def test_concurrent_traced_requests_never_share_a_job_group(spark, tmp_path):
    from perfbench.serve_read import query, stage_store, traced_server
    from perfbench.trace import Tracer

    db = stage_store(spark, str(tmp_path), C.serve_corpus(1, n=200))
    tracer = Tracer(spark.sparkContext)
    srv, timings = traced_server(db, tracer)
    th = threading.Thread(target=srv.serve_forever, kwargs={"poll_interval": 0.05})
    th.start()
    try:
        port = srv.server_address[1]
        gate = threading.Barrier(2)
        recs = {}

        def one(rid, strategy):
            gate.wait(timeout=60)
            op = {"index_type": strategy, "text_of": 0, "limit": 5, "label": None}
            recs[rid] = query(port, op, "spark join table", rid)

        threads = [threading.Thread(target=one, args=(f"t-{i}", s))
                   for i, s in enumerate(("cosine", "sign"))]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=170)
        assert not any(t.is_alive() for t in threads)
    finally:
        srv.shutdown()
        srv.server_close()
        th.join(timeout=30)
    assert {r["status"] for r in recs.values()} == {200}
    (a0, a1), (b0, b1) = timings["t-0"]["handler"], timings["t-1"]["handler"]
    assert a0 < b1 and b0 < a1, "the two requests did not overlap"
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = {rid: set(tracer._settled_jobs(rid)) for rid in recs}
    assert jobs["t-0"] and jobs["t-1"]
    assert not jobs["t-0"] & jobs["t-1"]
    for rid, jids in jobs.items():
        for j in jids:
            assert store.job(j).jobGroup().get() == rid
