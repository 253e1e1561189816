"""serve_read: read-only ``POST /query`` traffic against
``serving.make_server`` over a staged chunk store.

One closed-loop client sends its next request when the previous one has
answered. Requests come from one seeded sequence, so both commits see
the same requests in the same order.
"""

from __future__ import annotations

import http.client
import json
import os
import statistics
import threading
import time

from perfbench import corpus as C
from perfbench.cpu import LAYERS, delta
from perfbench.oracle import RECALL_MEAN_FLOOR, SearchOracle
from perfbench.trace import CLASS_COUNTERS, SPARK_COUNTERS

# a run measures at least this many whole cycles, and its CPU metric
# covers exactly these, so it does not depend on how many more a fast
# host fits into the window
MEASURED_CYCLES = 1


def per_layer_names() -> list[str]:
    names = ["serving.self_ms", "serving.http_ms",
             "api.search.construct_ms", "api.search.execute_ms"]
    for s in C.STRATEGIES:
        names += [f"api.search.{s}.construct_ms", f"api.search.{s}.execute_ms"]
    return names


def op_classes() -> list[str]:
    return list(C.STRATEGIES)


def query(port: int, op: dict, text: str, rid: str | None) -> dict:
    """One ``POST /query`` round trip on a fresh connection."""
    body = {"text": text, "index_type": op["index_type"], "limit": op["limit"]}
    if op["label"] is not None:
        body["metadata"] = {"label": op["label"]}
    headers = {"Content-Type": "application/json"}
    if rid is not None:
        headers["X-Request-Id"] = rid
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
    w0, t0 = time.time(), time.perf_counter()
    try:
        conn.request("POST", "/query", json.dumps(body), headers)
        resp = conn.getresponse()
        status, data = resp.status, resp.read()
    finally:
        conn.close()
    t1 = time.perf_counter()
    return {"op": op, "rid": rid, "status": status, "body": data,
            "ms": (t1 - t0) * 1000.0, "start": w0, "end": w0 + (t1 - t0)}


def traced_server(db, tracer):
    """Wrap the server's handler and the facade's ``search`` so that
    each request runs under its own job group and records handler,
    construction and execution spans."""
    from local_vectordb_spark.serving import make_server

    srv = make_server(db)
    base = srv.RequestHandlerClass
    timings: dict[str, dict] = {}

    class TracedHandler(base):
        def do_POST(self):
            rid = self.headers.get("X-Request-Id")
            t_in = time.perf_counter()
            tracer.begin(rid, f"POST {self.path}")
            w0, t0 = time.time(), time.perf_counter()
            try:
                super().do_POST()
            finally:
                t1 = time.perf_counter()
                tracer.end()
                rec = timings.setdefault(rid, {})
                rec.update(handler=(w0, w0 + (t1 - t0)),
                           trace_ms=(time.perf_counter() - t_in - (t1 - t0)) * 1000.0)

    orig_search = db.search

    def search(*args, **kwargs):
        rid = tracer.local.rid
        w0, t0 = time.time(), time.perf_counter()
        df = orig_search(*args, **kwargs)
        t1 = time.perf_counter()
        timings.setdefault(rid, {})["construct"] = (w0, w0 + (t1 - t0))
        collect = df.collect

        def timed_collect():
            w2, t2 = time.time(), time.perf_counter()
            rows = collect()
            timings[rid]["execute"] = (w2, w2 + (time.perf_counter() - t2))
            return rows

        df.collect = timed_collect
        return df

    db.search = search
    srv.RequestHandlerClass = TracedHandler
    return srv, timings


def _drive(port, ops, texts, deadline, tracer, prefix, cpu=None,
           min_cycles=0) -> tuple[list, list]:
    """Closed loop over ``ops`` until ``deadline`` (perf_counter) has
    passed and ``min_cycles`` cycles are done. The loop stops only at a
    cycle boundary, so every run measures whole cycles: the same mix of
    strategies, k and filters. With ``cpu``, the process tree's CPU is
    sampled at every cycle boundary, while no request is in flight;
    returns the requests and the samples."""
    out, marks = [], []
    for i, op in enumerate(ops):
        if i % C.CYCLE == 0:
            if cpu is not None:
                marks.append(cpu.snapshot())
            if i >= min_cycles * C.CYCLE and time.perf_counter() >= deadline:
                break
        rid = tracer.new_request_id(prefix) if tracer else None
        out.append(query(port, op, texts[op["text_of"]], rid))
    return out, marks


def stage_store(spark, run_dir: str, corpus: dict):
    """A VectorDB under ``run_dir`` holding one library, one document
    and the corpus as its chunks, written through ``VectorDB.add``."""
    from local_vectordb_spark.api import VectorDB
    from local_vectordb_spark.session import local_rows_df
    from local_vectordb_spark.sources.json_records import SCHEMAS

    path = os.path.join(run_dir, "chunks.parquet")
    C.write_parquet(C.chunks_table(corpus), path)
    db = VectorDB(spark, os.path.join(run_dir, "store"))
    db.add("libraries", local_rows_df(
        spark, [("lib0", {}, None, None, "corpus")], SCHEMAS["libraries"]))
    db.add("documents", local_rows_df(
        spark, [("d0", {}, None, None, "doc", "lib0")], SCHEMAS["documents"]))
    db.add("chunks", spark.read.parquet(path))
    return db


def run(spark, run_dir: str, seed: int, seconds: int, tracer, clock, cpu) -> dict:
    from local_vectordb_spark.serving import make_server

    corpus = C.serve_corpus(seed)
    db = stage_store(spark, run_dir, corpus)
    clock.mark("staged")

    if tracer:
        srv, timings = traced_server(db, tracer)
    else:
        srv, timings = make_server(db), {}
    th = threading.Thread(target=srv.serve_forever, kwargs={"poll_interval": 0.05})
    th.start()
    try:
        port = srv.server_address[1]
        texts = corpus["content"]
        # the sequence's first cycle runs untimed: it builds every
        # strategy's stored artifacts and pays each plan's first-call
        # cost. Measured after one warm request per strategy, it still
        # spread twice as wide from run to run as the cycle after it
        # (0.096 against 0.044 over 6 seeds).
        ops = C.read_ops(seed, corpus, 20_000)
        warm, _ = _drive(port, ops[:C.CYCLE], texts, float("inf"), tracer, "warm")
        clock.mark("warm")
        ops = ops[C.CYCLE:]
        t0 = time.perf_counter()
        recs, marks = _drive(port, ops, texts, t0 + seconds, tracer, "q", cpu,
                             MEASURED_CYCLES)
        window_s = time.perf_counter() - t0
    finally:
        srv.shutdown()
        srv.server_close()
        th.join()

    oracle = SearchOracle(corpus["ids"], texts, corpus["emb"], corpus["label"])
    failures, recalls = [], {}
    for rec in warm + recs:
        ok, why = rec["status"] == 200, f"HTTP {rec['status']}: {rec['body'][:300]!r}"
        if ok:
            results = json.loads(rec["body"])["results"]
            ok, recall, why = oracle.check(rec["op"], texts[rec["op"]["text_of"]], results)
            if recall is not None:
                recalls.setdefault(rec["op"]["index_type"], []).append(recall)
        if not ok:
            failures.append({"op": rec["op"], "why": why})
    for s, rs in recalls.items():
        if statistics.fmean(rs) < RECALL_MEAN_FLOOR[s]:
            failures.append({"strategy": s, "why": f"mean recall {statistics.fmean(rs):.3f}"})

    # CPU per request over the first MEASURED_CYCLES whole cycles, the
    # same requests in every run however fast the host is
    cycles = [delta(a, b) for a, b in zip(marks, marks[1:])]
    per_op = {k: sum(c[k] for c in cycles[:MEASURED_CYCLES]) / (MEASURED_CYCLES * C.CYCLE)
              for k in ("total", *LAYERS)}
    lat = [r["ms"] for r in recs]
    result = {
        "attempted": len(warm) + len(recs),
        "failures": failures,
        "e2e": {"op_cpu_ms": per_op["total"]},
        "cpu": per_op,
        "info": {"measured_ops": len(recs),
                 "wall_op_p50_ms": statistics.median(lat),
                 "wall_throughput_per_s": len(recs) / window_s,
                 "cycle_cpu_ms": [c["total"] for c in cycles],
                 "ms": [[r["op"]["index_type"], round(r["ms"])] for r in recs],
                 "recall_mean": {s: statistics.fmean(v) for s, v in recalls.items()}},
    }
    if tracer:
        result["layers"] = _layers(tracer, recs, timings)
    return result


def _layers(tracer, recs, timings) -> dict:
    """Per-request layer split, reduced to medians overall and per
    strategy; every request's spans go to the tracer."""
    rows = []
    for rec in recs:
        rid, t = rec["rid"], timings[rec["rid"]]
        (h0, h1), (c0, c1), (e0, e1) = t["handler"], t["construct"], t["execute"]
        client_span = tracer.span(rid, "client.query", None, rec["start"], rec["end"],
                                  strategy=rec["op"]["index_type"])
        h = tracer.span(rid, "serving.handler", client_span, h0, h1)
        tracer.span(rid, "api.search.construct", h, c0, c1)
        tracer.span(rid, "api.search.execute", h, e0, e1)
        row = {
            "class": rec["op"]["index_type"],
            "client_ms": rec["ms"],
            "serving.self_ms": ((h1 - h0) - (c1 - c0) - (e1 - e0)) * 1000.0,
            "serving.http_ms": rec["ms"] - (h1 - h0) * 1000.0,
            "api.search.construct_ms": (c1 - c0) * 1000.0,
            "api.search.execute_ms": (e1 - e0) * 1000.0,
            "trace.self_ms": t["trace_ms"],
        }
        row.update({f"spark.{k}": v for k, v in tracer.group_stats(rid, h, h0, h1).items()})
        rows.append(row)
    out = {}
    for key in ("serving.self_ms", "serving.http_ms", "api.search.construct_ms",
                "api.search.execute_ms", "trace.self_ms",
                *(f"spark.{c}" for c in SPARK_COUNTERS)):
        out[key] = statistics.median(r[key] for r in rows)
    out["trace.op_p50_ms"] = statistics.median(r["client_ms"] for r in rows)
    for s in C.STRATEGIES:
        mine = [r for r in rows if r["class"] == s]
        for key in ("api.search.construct_ms", "api.search.execute_ms"):
            name = key.replace("api.search.", f"api.search.{s}.")
            out[name] = statistics.median(r[key] for r in mine) if mine else 0.0
        for c in CLASS_COUNTERS:
            out[f"spark.{s}.{c}"] = statistics.median(r[f"spark.{c}"] for r in mine) if mine else 0.0
    return out

