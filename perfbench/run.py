"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 10 --trace 0

Run from the repository root. One invocation is one run: it makes its
inputs from the seed, starts Spark through ``session.get_spark`` on
``local[SPARK_GRAFT_CPUS]``, sets the workload up (staging, artifact
builds, warm-up), measures for ``--seconds``, checks every answer, and
prints one JSON object as its last stdout line. ``--trace 1`` prints the
per-layer metrics instead of the end-to-end ones and writes the spans
to ``.perfbench_out/``. The line before it holds the run's provenance
(seed, commit, cpus, load, a calibration loop) and workload details.

Every run works in a fresh directory under ``.perfbench_runs/`` that is
its TMPDIR, Spark local dir and store root, so no derived cache
survives from one run to the next.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import curate, serve_read  # noqa: E402
from perfbench.cpu import JVM_FLAGS, LAYERS, TreeCPU  # noqa: E402
from perfbench.trace import CLASS_COUNTERS, SPARK_COUNTERS, Tracer  # noqa: E402

WORKLOADS = {"serve_read": serve_read, "curate": curate}
# Spark task slots: with serve_read's client thread and the Spark driver this
# stays within a 4-core box
CPUS = 2
DRIVER_MEM = "1g"
E2E = ("setup_s", "op_cpu_ms", "peak_rss_mb")


def per_layer_names() -> list[str]:
    """Every per-layer metric, in BENCHMARK.json order. A traced run
    reports all of them; a layer that does not run in the workload
    reads 0."""
    names = ["session.start_s", "setup.stage_s", "setup.warm_s",
             "trace.op_p50_ms", "trace.self_ms"]
    names += [f"cpu.{k}_ms" for k in LAYERS]
    names += [f"spark.{c}" for c in SPARK_COUNTERS]
    for mod in WORKLOADS.values():
        names += mod.per_layer_names()
        names += [f"spark.{k}.{c}" for k in mod.op_classes() for c in CLASS_COUNTERS]
    return names


class Clock:
    def __init__(self):
        self.marks = {"start": T_START}

    def mark(self, name: str) -> None:
        self.marks[name] = time.perf_counter()

    def span(self, a: str, b: str) -> float:
        return self.marks[b] - self.marks[a]


def _source_digest() -> str:
    """sha256 over the program's Python sources, standing in for the
    commit id where the checkout is not a git repository."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _, files in os.walk(os.path.join(ROOT, "local_vectordb_spark")):
        paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def provenance(seed: int) -> dict:
    sha = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                 text=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    return {
        "seed": seed, "git_sha": sha, "source_sha256": _source_digest(),
        "cpus": CPUS, "nproc": os.cpu_count(), "loadavg": list(os.getloadavg()),
        "calibration_ms": calibration_ms(), "cpu_ticks": cpu_ticks(),
    }


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine: a VM's steal time
    is the host taking its CPUs away."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def calibration_ms() -> float:
    """Time of a fixed pure-Python loop: the host's speed right now."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return (time.perf_counter() - t0) * 1000.0


def _peak_rss_mb(jvm_pid: int) -> float:
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                kb += int(line.split()[1])
    return kb / 1024.0


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _check_checkout() -> dict:
    missing = [p for p in ("__spark_entry__.py", "local_vectordb_spark/__init__.py",
                           "BENCHMARK.json") if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        raise SystemExit(f"perfbench: not a checkout of the program (missing {missing})")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload: str, seed: int, seconds: int, trace: bool) -> tuple[dict, dict]:
    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{workload}-s{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ.update({
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        # the JVM's own temp files (extracted native libraries, artifact
        # dirs) go to the run directory too, and no hsperfdata to /tmp
        "SPARK_SUBMIT_OPTS": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} "
                             f"-XX:-UsePerfData {JVM_FLAGS}",
    })
    tempfile.tempdir = None
    prov = provenance(seed)
    clock = Clock()
    spark = None
    try:
        from local_vectordb_spark.session import get_spark

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        clock.mark("session")
        tracer = Tracer(spark.sparkContext) if trace else None
        jvm_pid = spark.sparkContext._gateway.proc.pid
        res = WORKLOADS[workload].run(spark, run_dir, seed, seconds, tracer, clock,
                                      TreeCPU(jvm_pid))
        res["e2e"]["setup_s"] = clock.span("start", "warm")
        res["e2e"]["peak_rss_mb"] = _peak_rss_mb(jvm_pid)
        if tracer:
            res["layers"].update({f"cpu.{k}_ms": res["cpu"][k] for k in LAYERS})
            res["layers"].update({
                "session.start_s": clock.span("start", "session"),
                "setup.stage_s": clock.span("session", "staged"),
                "setup.warm_s": clock.span("staged", "warm"),
            })
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            tracer.write(os.path.join(out, f"{workload}-s{seed}-spans.jsonl"))
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    prov["clock"] = {k: v - T_START for k, v in clock.marks.items()}
    prov["calibration_end_ms"] = calibration_ms()
    steal, total = cpu_ticks()
    steal0, total0 = prov.pop("cpu_ticks")
    prov["steal_pct"] = 100.0 * (steal - steal0) / max(1, total - total0)
    prov["loadavg_end"] = list(os.getloadavg())
    return prov, res


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = _check_checkout()
    prov, res = run(args.workload, args.seed, args.seconds, bool(args.trace))

    if args.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = dict.fromkeys(per_layer_names(), 0.0)
        values.update(res["layers"])
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = {n: res["e2e"][n] for n in E2E}
    if set(values) != set(units):
        raise SystemExit(f"perfbench: metric names {sorted(set(values) ^ set(units))} "
                         "disagree with BENCHMARK.json")
    for f in res["failures"]:
        print(f"perfbench: FAILED {json.dumps(f)}", file=sys.stderr)
    print(json.dumps({"provenance": prov, "workload": args.workload, "clock": prov.pop("clock"),
                      "cpu_ms": res["cpu"], **res["info"]}))
    print(json.dumps({
        "correct": not res["failures"],
        "attempted": res["attempted"],
        "failed": len(res["failures"]),
        "metrics": {n: {"value": float(values[n]), "unit": units[n]} for n in units},
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:  # noqa: BLE001 - a broken run prints no result
        traceback.print_exc()
        sys.exit(1)
