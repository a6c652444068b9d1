"""sparkbm25 benchmark: build, search and maintain workloads on a
host-sized local Spark session.

    python3 perfbench/run.py --workload search_point --seed 1 --seconds 16 --trace 0

runs one workload and prints, as its last stdout line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. Lines before
it give the host, the workload's metrics under their ROADMAP names, and
(traced) the end-to-end values measured with tracing on.

    python3 perfbench/run.py --workload all --seed 1

runs every workload untraced and traced, prints every metric with its
unit and the tracing overhead per workload, and exits non-zero on any
result mismatch. Everything the benchmark writes stays under
``.perfbench_work/`` in the checkout; spans of traced runs are kept in
``.perfbench_work/results/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys

from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
LAYER_SUM_BAND = (0.9, 1.1)


def host() -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    return {"cores": cores, "mem_mb": mem_mb,
            # Spark gets half the cores as task slots; the rest run the
            # JVM's JIT and GC threads, the driver and the Python worker
            # daemon. With a slot per core every process competes for every
            # core: on a 4-core host both workloads ran no faster there,
            # spent 40% more CPU and their times spread further.
            "spark_cores": max(1, cores // 2),
            # a quarter of RAM for the driver JVM, at most 4 GB: the corpus
            # is small and the machine is shared
            "driver_mem_mb": min(4096, mem_mb // 4)}


def env_line(h: dict, spark) -> dict:
    import pyarrow
    import pyspark

    return {**h, "spark_local_dirs":
            os.path.relpath(os.environ["SPARK_LOCAL_DIRS"], ROOT),
            "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version()}


def fmt(metrics: dict) -> dict:
    return {k: {"value": v[0], "unit": v[1]} for k, v in metrics.items()}


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> int:
    h = host()
    work = os.path.join(WORK_ROOT, f"{workload}-{seed}-{os.getpid()}")
    results = os.path.join(WORK_ROOT, "results")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    # before pyspark starts anything: every temp file stays in the checkout
    # (the launcher JVM that spark-submit starts writes no /tmp perf data)
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LAUNCHER_OPTS":
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(h["spark_cores"]),
        "SPARKBM25_DRIVER_MEM": f"{h['driver_mem_mb']}m",
    })
    sys.path.insert(0, ROOT)
    from workloads import Bench

    b = Bench(workload, seed, seconds, trace, work, h["spark_cores"])
    try:
        b.start()
        print("# host " + json.dumps(env_line(h, b.spark)), flush=True)
        b.setup()
        b.run()
        e2e = b.e2e
        layers = b.per_layer() if trace else None
        if trace:
            b.tracer.dump(os.path.join(
                results, f"spans-{workload}-seed{seed}.json"))
    finally:
        if hasattr(b, "spark"):
            b.stop()
        shutil.rmtree(work, ignore_errors=True)
    named = {"setup_s": (b.setup_s, "s"),
             "op_failure_ratio": (b.failed / max(1, b.attempted), "ratio"),
             "peak_rss_mb": (b.peak_rss_mb, "MB"), **b.named}
    for k, v in named.items():
        n = f" (n={v[2]})" if len(v) > 2 else ""
        print(f"# {workload} {k} = {v[0]} {v[1]}{n}")
    print(f"# ops {len(b.ops)}")
    for i, steps in enumerate(b.cycles):
        print(f"# cycle {i} " + " ".join(f"{k}={v:.3f}s"
                                         for k, v in steps.items()))
    for m in b.mismatches:
        print(f"# MISMATCH {m}")
    rc = 1 if b.mismatches else 0
    if trace:
        print("# traced_end_to_end " + json.dumps(fmt(e2e)))
        lo, hi = LAYER_SUM_BAND
        ratio = layers["build.layer_sum_ratio"][0]
        if not lo <= ratio <= hi:
            print(f"# FAIL build.layer_sum_ratio {ratio:.3f} outside {lo}-{hi}")
            rc = 1
    out = {"correct": not b.mismatches, "attempted": b.attempted,
           "failed": b.failed, "metrics": fmt(layers if trace else e2e)}
    with open(os.path.join(
            results, f"{workload}-seed{seed}-trace{int(trace)}.json"),
            "w") as f:
        json.dump({**out, "named": fmt(named)}, f)
    print(json.dumps(out), flush=True)
    return rc


def run_all(seed: int, seconds: float) -> int:
    """Every workload untraced, then traced; prints all metrics and the
    tracing overhead (traced minus untraced) of each end-to-end metric."""
    rc = 0
    for w in WORKLOADS:
        last = {}
        for trace in (0, 1):
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", w,
                 "--seed", str(seed), "--seconds", str(seconds),
                 "--trace", str(trace)],
                stdout=subprocess.PIPE, text=True, cwd=ROOT)
            lines = p.stdout.splitlines()
            rc = rc or p.returncode
            for ln in lines[:-1]:
                print(ln)
            if not lines or not lines[-1].startswith("{"):
                print(f"# {w} trace={trace}: no result (exit {p.returncode})")
                rc = rc or 1
                continue
            res = json.loads(lines[-1])
            for k, v in res["metrics"].items():
                print(f"{w} trace={trace} {k} = {v['value']} {v['unit']}")
            last[trace] = res["metrics"]
            for ln in lines:
                if ln.startswith("# traced_end_to_end "):
                    last["traced"] = json.loads(ln.split(" ", 2)[2])
        if 0 in last and "traced" in last:
            for k, v in last[0].items():
                t = last["traced"][k]["value"]
                if v["value"] is not None and t is not None:
                    print(f"{w} trace_overhead {k} = {t - v['value']:+.4g} "
                          f"{v['unit']} ({(t / v['value'] - 1) * 100:+.1f}%)")
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "sparkbm25", "__init__.py")):
        print(f"sparkbm25/ not found under {ROOT}: run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    if a.workload == "all":
        return run_all(a.seed, a.seconds)
    return run_one(a.workload, a.seed, a.seconds, bool(a.trace))


if __name__ == "__main__":
    sys.exit(main())
