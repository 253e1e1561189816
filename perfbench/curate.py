"""curate: batch curation passes through the operator registry
(``__spark_entry__.queries()``), each step's result written to Spark's
noop sink, over a generated near-duplicate replica corpus.

A pass runs every step once, in order. Before the window, one untimed
pass warms the JVM and one more collects every step's output, which is
compared with the step's DuckDB oracle (or, for the rows-only MinHash
step, with its invariants against exact shingle Jaccard).
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import corpus as C
from perfbench.cpu import LAYERS, delta
from perfbench.oracle import frames_match, minhash_pairs_ok
from perfbench.trace import CLASS_COUNTERS, SPARK_COUNTERS

STEPS = (
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard_capped",
    "dedup_simhash_md5",
    "text_quality",
)
# a run measures at least this many passes, and its CPU metric is the
# median over exactly these, whatever the host's speed
MEASURED_PASSES = 2


def per_layer_names() -> list[str]:
    return [f"curate.{s}.{m}" for s in STEPS for m in ("construct_ms", "execute_ms")]


def op_classes() -> list[str]:
    return list(STEPS)


def _pass(spark, qs, sf_dir: str, tracer, tag: str) -> list[dict]:
    """Every step once, in order, each written to the noop sink."""
    steps = []
    for s in STEPS:
        rid = f"{tag}-{s}"
        if tracer:
            tracer.begin(rid, s)
        w0, t0 = time.time(), time.perf_counter()
        df = qs[s](spark, sf_dir)
        t1 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        t2 = time.perf_counter()
        if tracer:
            tracer.end()
        steps.append({"step": s, "rid": rid, "w0": w0,
                      "construct_ms": (t1 - t0) * 1000.0,
                      "execute_ms": (t2 - t1) * 1000.0})
    return steps


def run(spark, run_dir: str, seed: int, seconds: int, tracer, clock, cpu) -> dict:
    import duckdb

    from __spark_entry__ import oracle_sql, queries
    from local_vectordb_spark.queries import _NEAR_DUPES_SQL

    sf_dir = os.path.join(run_dir, "sf")
    os.makedirs(sf_dir)
    docs = C.curate_documents(seed)
    C.write_parquet(docs, os.path.join(sf_dir, "documents.parquet"))
    qs = queries()
    clock.mark("staged")

    # an untimed pass of the timed plans pays their first-call cost, and
    # the pass that collects every output for checking warms the JIT on
    # the same kernels, so the timed passes start nearer level: the first
    # timed pass used a median 13% more CPU than the second over 30 runs,
    # and 32% in a run without the untimed noop pass.
    _pass(spark, qs, sf_dir, None, "warm")
    outputs = {s: qs[s](spark, sf_dir).toPandas() for s in STEPS}
    clock.mark("warm")

    passes: list[list[dict]] = []
    pass_cpu: list[dict] = []
    t_end = time.perf_counter() + seconds
    while len(passes) < MEASURED_PASSES or time.perf_counter() < t_end:
        before = cpu.snapshot()
        passes.append(_pass(spark, qs, sf_dir, tracer, f"p{len(passes)}"))
        pass_cpu.append(delta(before, cpu.snapshot()))

    failures = []
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(sf_dir, 'documents.parquet')}')")
    oracles = oracle_sql()
    for s in STEPS:
        if s in oracles:
            ok, why = frames_match(outputs[s], con.execute(oracles[s]).df())
        else:
            # the dedup steps' input: the corpus plus the registry's
            # planted near-duplicates, as its oracles define it
            docs_in = dict(con.execute(_NEAR_DUPES_SQL).fetchall())
            ok, why = minhash_pairs_ok(outputs[s], docs_in)
        if not ok:
            failures.append({"step": s, "why": why})
    con.close()

    walls = [sum(x["construct_ms"] + x["execute_ms"] for x in p) for p in passes]
    per_pass = {k: statistics.median(c[k] for c in pass_cpu[:MEASURED_PASSES])
                for k in ("total", *LAYERS)}
    result = {
        "attempted": len(STEPS) * (2 + len(passes)),
        "failures": failures,
        "e2e": {"op_cpu_ms": per_pass["total"]},
        "cpu": per_pass,
        "info": {"passes": len(passes), "docs": docs.num_rows,
                 "wall_op_p50_ms": statistics.median(walls), "pass_ms": walls,
                 "pass_cpu_ms": [c["total"] for c in pass_cpu]},
    }
    if tracer:
        result["layers"] = _layers(tracer, passes)
    return result


def _layers(tracer, passes) -> dict:
    rows = []
    for p in passes:
        for x in p:
            wall_s = (x["construct_ms"] + x["execute_ms"]) / 1000.0
            lo, hi = x["w0"], x["w0"] + wall_s
            top = tracer.span(x["rid"], "curate.step", None, lo, hi, step=x["step"])
            c_end = lo + x["construct_ms"] / 1000.0
            tracer.span(x["rid"], "curate.construct", top, lo, c_end)
            tracer.span(x["rid"], "curate.execute", top, c_end, hi)
            row = {"class": x["step"], "wall_ms": wall_s * 1000.0,
                   "construct_ms": x["construct_ms"], "execute_ms": x["execute_ms"]}
            row.update({f"spark.{k}": v for k, v in
                        tracer.group_stats(x["rid"], top, lo, hi).items()})
            rows.append(row)
    out = {f"spark.{c}": statistics.median(r[f"spark.{c}"] for r in rows)
           for c in SPARK_COUNTERS}
    out["trace.op_p50_ms"] = statistics.median(
        sum(x["construct_ms"] + x["execute_ms"] for x in p) for p in passes)
    for s in STEPS:
        mine = [r for r in rows if r["class"] == s]
        for m in ("construct_ms", "execute_ms"):
            out[f"curate.{s}.{m}"] = statistics.median(r[m] for r in mine)
        for c in CLASS_COUNTERS:
            out[f"spark.{s}.{c}"] = statistics.median(r[f"spark.{c}"] for r in mine)
    return out
