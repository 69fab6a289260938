"""Layered benchmark of the engine: one closed-loop client, one Spark app.

Usage (from the repo root):

    python3 perfbench/run.py --workload geo_labs --seed 1 --seconds 10 --trace 0

A single process runs one Spark application at local[<cores>] and sends
each query after the previous one finishes. A query's latency is the
registry function call plus `.count()`. Workloads are listed in
`perfbench/workloads.py`.

Each run:
- generates its inputs from ``--seed`` with `tools/scalegen.py` (the
  measured scale and a smaller check scale) into a fresh working
  directory under ``.perfbench_work/``, which it deletes at the end; the
  engine receives only parquet paths;
- sizes the session from the machine: cores from the CPU affinity mask,
  driver heap from /proc/meminfo;
- starts the session and runs one warm-up query on the check-scale
  inputs (together `setup_s`);
- times whole passes over the workload on the measured inputs until
  ``--seconds`` have passed;
- checks this seed's slice of the workload's queries against their
  DuckDB oracles on the check-scale inputs with `tools/selfcheck.py`;
  consecutive seeds cover every query.

It prints a detail line (per-query latencies, sample counts, tail
percentile, index-write median, peak RSS, failures by query and
failed-ops fraction, oracle log, session sizing, CPU marker) and, last,
one JSON object with the metrics named in BENCHMARK.json: the
end-to-end ones with ``--trace 0``, the per-layer ones with
``--trace 1``. It exits non-zero without a result when the engine's
sources are not beside it or a phase fails or overruns its deadline.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.workloads import CHECK_SF, WORKLOADS  # noqa: E402

DEADLINE_S = 160.0  # leaves time to stop stragglers within 180 s
NEEDED = (
    "geo_big_data_analysis_spark/plans/registry.py",
    "tools/scalegen.py",
    "tools/selfcheck.py",
)


def driver_memory_gb() -> int:
    """40 % of physical memory, at most 16 GB, at least 1 GB."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(1, min(16, int(0.4 * kb / 1024 / 1024)))


def end_to_end(r: dict) -> dict:
    return {
        "query_p50_s": (r["query"]["p50"], "s"),
        "query_tail_s": (r["query"]["tail"], "s"),
        "queries_per_s": (r["queries_per_s"], "1/s"),
        "setup_s": (r["setup_s"], "s"),
    }


def per_layer(r: dict) -> dict:
    from perfbench.trace import PER_LAYER

    return {k: (r["layers"][k], unit) for k, unit in PER_LAYER.items()}


def _run(cmd: list[str], env: dict, cwd: str, log, deadline: float) -> None:
    """Run ``cmd`` in its own process group; kill the group at the deadline."""
    proc = subprocess.Popen(cmd, env=env, cwd=cwd, stdout=log, stderr=log,
                            start_new_session=True)
    try:
        proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    finally:
        try:  # on timeout, and for stragglers left in the group
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    if proc.returncode:
        raise subprocess.CalledProcessError(proc.returncode, cmd)


def _stop_stragglers(work: str, grace_s: float = 10.0) -> None:
    """Wait for processes still running in ``work`` (Spark's Python worker
    daemon leaves the JVM's process group), killing them after ``grace_s``."""
    t_end = time.monotonic() + grace_s
    while True:
        left = []
        for pid in filter(str.isdigit, os.listdir("/proc")):
            try:
                cwd = os.readlink(f"/proc/{pid}/cwd")
            except OSError:  # gone, or not ours to inspect
                continue
            if cwd == work or cwd.startswith(work + os.sep):
                left.append(int(pid))
        if not left:
            return
        if time.monotonic() > t_end:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S

    missing = [p for p in NEEDED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2

    workload = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"{workload.name}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEMORY=f"{driver_memory_gb()}g",
        SPARK_LOCAL_DIRS=os.path.join(work, "tmp"),
        TMPDIR=os.path.join(work, "tmp"),
        # every JVM (Spark's launcher too) keeps its temp files in the
        # working directory and writes no /tmp/hsperfdata_* file
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    )
    log_path = os.path.join(work, "run.log")
    try:
        with open(log_path, "w") as log:
            _run([sys.executable, "-m", "perfbench.gen", str(args.seed), "data",
                  f"{workload.measure_sf:g}", f"{CHECK_SF:g}"],
                 env, work, log, deadline)
            _run([sys.executable, "-m", "perfbench.measure", "--workload", workload.name,
                  "--seed", str(args.seed), "--seconds", str(args.seconds),
                  "--trace", str(args.trace),
                  "--data", "data", "--out", "result.json"],
                 env, work, log, deadline)
        with open(os.path.join(work, "result.json")) as f:
            r = json.load(f)
    except (subprocess.SubprocessError, OSError) as e:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        print(f"perfbench: run failed: {e}", file=sys.stderr)
        return 1
    finally:
        _stop_stragglers(work)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is still using it
            pass

    metrics = per_layer(r) if args.trace else end_to_end(r)
    print("perfbench detail " + json.dumps(r))
    print(json.dumps({
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
