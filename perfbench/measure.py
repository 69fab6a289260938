"""One benchmark run inside a prepared working directory.

Started by ``run.py`` as ``python3 -m perfbench.measure`` with the
working directory as cwd, the repo on PYTHONPATH and the session sized
through SPARK_GRAFT_CPUS / SPARK_DRIVER_MEMORY. Writes its result as
JSON to ``--out``.

Phases: session start and a warm-up query (together `setup_s`); timed
passes on the measured inputs until ``--seconds`` have passed (whole
passes); the oracle check of this seed's slice of queries through
`tools/selfcheck.py`; shutdown. In a traced run (``--trace 1``) the
timed passes are traced and per-layer metrics are reported.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import io
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from perfbench import stats
from perfbench.gen import ROOT, sf_dir
from perfbench.workloads import CHECK_SF, WORKLOADS, Workload, check_slice

INDEX_ROOT = os.path.join("spark-warehouse", "ann_index")
SPARK_CONF = {
    # keep every job and stage of a run in the status store for tracing
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
}


# A run is marked unsteady when the hypervisor took more than this share
# of the CPUs during the timed passes: its times then reflect the host's
# load more than the engine. (The CPU marker is too noisy to tell a slower
# host within one run: on runs of equal speed it moved by up to 40 %
# between the start and the end of the timed passes.)
UNSTEADY_STEAL = 0.03


@dataclass
class Pass:
    latency: dict[str, float] = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)
    wall: float = 0.0


def run_pass(spark, workload: Workload, data: str, registry, tracer=None) -> Pass:
    """Each query once, in order: the registry call plus `.count()`.
    Starts from an empty stored-index directory, so index writes write."""
    shutil.rmtree(INDEX_ROOT, ignore_errors=True)
    out = Pass()
    t_pass = time.perf_counter()
    for name in workload.queries:
        fn = registry[name][0]
        t0 = time.perf_counter()
        try:
            if tracer is None:
                fn(spark, data).count()
            else:
                tracer.query = name
                with tracer.span("plans", name):
                    df = fn(spark, data)
                with tracer.span("engine", "count"):
                    df.count()
        except Exception:  # noqa: BLE001 - a failing query is counted, not fatal
            print(f"query {name} raised:\n{traceback.format_exc()}", file=sys.stderr)
            out.errors.append(name)
            continue
        out.latency[name] = time.perf_counter() - t0
        print(f"{name} {out.latency[name]:.3f}s", file=sys.stderr, flush=True)
    out.wall = time.perf_counter() - t_pass
    return out


def timed_passes(spark, workload, data, registry, seconds, tracer=None) -> list[Pass]:
    """Whole passes until at least ``seconds`` have passed."""
    passes: list[Pass] = []
    t0 = time.perf_counter()
    while not passes or time.perf_counter() - t0 < seconds:
        passes.append(run_pass(spark, workload, data, registry, tracer))
    return passes


def cpu_marker_ms() -> float:
    """Single-thread CPU speed marker: best of 5 fixed Python loops."""
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        sum(i * i for i in range(300_000))
        best = min(best, time.perf_counter() - t0)
    return best * 1000.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def peak_rss_mb(spark) -> dict[str, float]:
    """Peak resident memory of the driver JVM and of this Python process."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return {"jvm": jvm_kb / 1024.0, "python": py_kb / 1024.0}


def oracle_check(check_data: str, names: list[str]) -> tuple[list[str], str]:
    """`tools/selfcheck.py` on ``names``; returns the failed names and its log."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import selfcheck

    log = io.StringIO()
    with contextlib.redirect_stdout(log):
        selfcheck.run(check_data, names)
    return stats.oracle_failures(log.getvalue()), log.getvalue()


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)


def measure(args) -> dict:
    workload = WORKLOADS[args.workload]
    data = sf_dir(args.data, workload.measure_sf)
    check_data = sf_dir(args.data, CHECK_SF)
    marker = cpu_marker_ms()

    from geo_big_data_analysis_spark.plans.registry import REGISTRY
    from geo_big_data_analysis_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=SPARK_CONF)
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    # the session's first query pays for Python workers, readers and JIT
    warm = run_pass(spark, dataclasses.replace(workload, queries=workload.queries[:1]),
                    check_data, REGISTRY)
    setup_s = time.perf_counter() - t0

    tracer = None
    if args.trace:
        from perfbench.trace import Tracer, layer_metrics, status_store_dump

        tracer = Tracer(spark, INDEX_ROOT)
        tracer.install()
    w0 = time.time()
    ticks0 = cpu_ticks()
    try:
        passes = timed_passes(spark, workload, data, REGISTRY, args.seconds, tracer)
    finally:
        if tracer:
            tracer.uninstall()
    ticks1 = cpu_ticks()
    w1 = time.time()
    steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
    wall = sum(p.wall for p in passes)
    layers = None
    if tracer:
        jobs, stage_list = status_store_dump(spark)
        layers = layer_metrics(tracer, jobs, stage_list, (w0, w1), len(passes))
        layers["session.start_s"] = start_s
        layers["trace.overhead_frac"] = tracer.overhead_s / (wall - tracer.overhead_s)
    rss = peak_rss_mb(spark)

    names = check_slice(workload, args.seed)
    t_check = time.perf_counter()
    oracle_failed, check_log = oracle_check(check_data, names)
    check_s = time.perf_counter() - t_check
    stop_spark(spark)

    samples = [s for p in passes for s in p.latency.values()]
    writes = [p.latency[q] for p in passes for q in workload.index_writes if q in p.latency]
    errors = [q for p in (warm, *passes) for q in p.errors]
    attempted = len(warm.latency) + len(warm.errors) + len(passes) * len(workload.queries)
    failed = stats.failed_queries(errors, oracle_failed)
    return {
        "workload": workload.name,
        "seed": args.seed,
        "trace": bool(args.trace),
        "cores": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_memory": os.environ.get("SPARK_DRIVER_MEMORY"),
        "cpu_marker_ms": marker,
        "steal_frac": steal,
        "host_steady": steal <= UNSTEADY_STEAL,
        "passes": len(passes),
        "timed_s": wall,
        "query": stats.timing(samples),
        "index_write_p50_s": statistics.median(writes) if writes else None,
        "index_write_n": len(writes),
        "queries_per_s": len(samples) / wall,
        "setup_s": setup_s,
        "session_start_s": start_s,
        "peak_rss_mb": rss["jvm"] + rss["python"],
        "peak_rss_mb_by_process": rss,
        "attempted": attempted,
        "failed": sum(failed.values()),
        "failed_ops_frac": sum(failed.values()) / attempted,
        "failed_by_query": failed,
        "oracle_checked": names,
        "check_s": check_s,
        "oracle_log": check_log,
        "latency_by_query": {
            q: [p.latency[q] for p in passes if q in p.latency] for q in workload.queries
        },
        "layers": layers,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    result = measure(args)
    with open(args.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
