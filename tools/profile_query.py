"""Per-job profile of one or more registry queries.

Usage: python tools/profile_query.py <name> [<name> ...]

Runs each query once warm (after one throwaway run) under its own Spark
job group, then prints every Spark job of the timed run with its
duration, and the run's totals: jobs, stages, tasks, executor time,
input and shuffle bytes, and the driver gap (wall time no job covered:
planning, py4j round trips, driver-side work). The counters come from
Spark's status store through ``perfbench.trace.Tracer``, so the UI stays
off and the session is the benched one (``session.get_spark``).
Set ``SPARK_GRAFT_SF_DIR`` to pick the fixture (default sf0.1).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from __spark_entry__ import queries
    from local_vectordb_spark.session import get_spark
    from perfbench.trace import Tracer

    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(spark.sparkContext)
    qs = queries()
    for name in names:
        fn = qs[name]
        # warm-up run (parquet footers, codegen, artifact caches)
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        rid = tracer.new_request_id(name)
        tracer.begin(rid, name)
        t0 = time.time()
        try:
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        finally:
            t1 = time.time()
            tracer.end()
        stats = tracer.group_stats(rid, rid, t0, t1)
        print(f"\n=== {name}: wall {t1 - t0:.3f}s, {stats['jobs']} jobs ===")
        for sp in tracer.spans:
            if sp["request"] == rid:
                print(f"  {sp['name']:>16} {sp['end'] - sp['start']:7.3f}s")
        print("  " + " ".join(
            f"{k}={v:.0f}" for k, v in stats.items() if k != "jobs"
        ))


if __name__ == "__main__":
    main()
