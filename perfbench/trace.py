"""Span tracing from outside the engine.

`Tracer.install` wraps every public function of the engine's layer
packages and rebinds each module-level name that refers to one (in
`plans/registry.py` and in the layers themselves; the registry's
function-local imports read the patched module attributes at call
time). Each call records a span; each span sets its own Spark job group
so the jobs it fires can be attributed to it afterwards from Spark's
status store. `uninstall` restores every binding.

Wrappers keep the wrapped function's module and qualified name, so a
wrapped function shipped to a Python worker is pickled by reference and
the worker runs the original.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import pkgutil
import threading
import time
from contextlib import contextmanager

from perfbench.stats import Span, layer_self_seconds

PKG = "geo_big_data_analysis_spark"
LAYERS = ("functions", "operators", "graph", "ml", "sources", "streaming")
GROUP_PREFIX = "perfbench-span-"

# name -> unit of every metric a traced run reports (BENCHMARK.json's per_layer)
PER_LAYER = {
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "operators.self_s": "s",
    "operators.calls": "count",
    "operators.jobs": "count",
    "graph.self_s": "s",
    "graph.jobs": "count",
    "ml.self_s": "s",
    "ml.jobs": "count",
    "sources.self_s": "s",
    "sources.jobs": "count",
    "sources.ann_index.cache_hit_frac": "fraction",
    "functions.self_s": "s",
    "streaming.self_s": "s",
    "streaming.jobs": "count",
    "engine.exec_s": "s",
    "engine.jobs": "count",
    "engine.stages": "count",
    "engine.tasks": "count",
    "engine.failed_tasks": "count",
    "engine.shuffle_read_mb": "MB",
    "engine.shuffle_write_mb": "MB",
    "engine.spill_mb": "MB",
    "engine.gc_s": "s",
    "session.start_s": "s",
    "trace.overhead_frac": "fraction",
}


def _layer_modules():
    pkg = importlib.import_module(PKG)
    return [
        importlib.import_module(m.name)
        for m in pkgutil.walk_packages(pkg.__path__, PKG + ".")
    ]


def _traceable(mod, attr: str, obj) -> bool:
    return (
        inspect.isfunction(obj)
        and obj.__module__ == mod.__name__
        and not attr.startswith("_")
        and not inspect.isgeneratorfunction(obj)
        and not hasattr(obj, "evalType")  # pandas/python UDF objects
    )


class Tracer:
    def __init__(self, spark, index_root: str):
        self._sc = spark.sparkContext
        self._index_root = index_root
        self._main = threading.main_thread()
        self._stack: list[int] = []
        self._next = 0
        self._patches: list[tuple[object, str, object]] = []
        self.spans: list[Span] = []
        self.query = ""
        self.ensure_calls = 0
        self.ensure_hits = 0
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    # -- spans ---------------------------------------------------------
    def _set_group(self) -> None:
        if self._stack:
            self._sc.setJobGroup(GROUP_PREFIX + str(self._stack[-1]), self.query)
        else:
            self._sc._jsc.clearJobGroup()

    @contextmanager
    def span(self, layer: str, name: str):
        if threading.current_thread() is not self._main:
            yield
            return
        t = time.perf_counter()
        sid, self._next = self._next, self._next + 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        self._set_group()
        start = time.time()
        self.overhead_s += time.perf_counter() - t
        try:
            yield
        finally:
            end = time.time()
            t = time.perf_counter()
            self._stack.pop()
            self._set_group()
            self.spans.append(Span(sid, parent, layer, name, start, end, self.query))
            self.overhead_s += time.perf_counter() - t

    # -- wrapping ------------------------------------------------------
    def _index_metas(self) -> set[str]:
        t = time.perf_counter()
        metas = set(glob.glob(os.path.join(self._index_root, "*", "meta.json")))
        self.overhead_s += time.perf_counter() - t
        return metas

    def _wrap(self, fn, layer: str):
        name = f"{fn.__module__[len(PKG) + 1:]}.{fn.__name__}"
        if name.startswith("sources.ann_index.ensure_"):
            # a cache hit is an ensure_* call that found its index's
            # meta.json already there, i.e. wrote no new one
            @functools.wraps(fn)
            def ensure(*args, **kwargs):
                before = self._index_metas()
                with self.span(layer, name):
                    out = fn(*args, **kwargs)
                self.ensure_calls += 1
                self.ensure_hits += self._index_metas() <= before
                return out

            return ensure

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        mods = _layer_modules()
        wrappers = {}
        for mod in mods:
            layer = mod.__name__.split(".")[1]
            if layer in LAYERS:
                for attr, obj in vars(mod).items():
                    if _traceable(mod, attr, obj):
                        wrappers[obj] = self._wrap(obj, layer)
        for mod in mods:
            for attr, obj in list(vars(mod).items()):
                if inspect.isfunction(obj) and obj in wrappers:
                    setattr(mod, attr, wrappers[obj])
                    self._patches.append((mod, attr, obj))

    def uninstall(self) -> None:
        for mod, attr, obj in reversed(self._patches):
            setattr(mod, attr, obj)
        self._patches.clear()


# -- Spark status store ------------------------------------------------
def status_store_dump(spark) -> tuple[list[dict], list[dict]]:
    """Every retained job and stage, as the status store's JSON."""
    sc = spark.sparkContext
    jvm = sc._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala, "MODULE$"))
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    stages = json.loads(
        mapper.writeValueAsString(store.stageList(None, False, False, no_quantiles, None))
    )
    return jobs, stages


def job_owner(spans: list[Span], job_group: str | None, t: float) -> int | None:
    """The span a job belongs to: the one whose job group it carries, else
    the innermost span open at its submission time ``t`` (jobs started on
    other threads, such as streaming micro-batches, carry their own group).
    """
    if job_group and job_group.startswith(GROUP_PREFIX):
        return int(job_group[len(GROUP_PREFIX):])
    open_at = [s for s in spans if s.start <= t <= s.end]
    return max(open_at, key=lambda s: s.start).sid if open_at else None


def layer_metrics(tracer: Tracer, jobs: list[dict], stages: list[dict],
                  window: tuple[float, float], passes: int) -> dict[str, float]:
    """Per-layer metrics of the traced passes, per pass."""
    spans = tracer.spans
    t0, t1 = window
    jobs = [j for j in jobs if t0 <= j["submissionTime"] / 1000.0 <= t1]
    layer_of = {s.sid: s.layer for s in spans}
    job_layers = [
        layer_of.get(job_owner(spans, j.get("jobGroup"), j["submissionTime"] / 1000.0))
        for j in jobs
    ]
    stage_ids = {sid for j in jobs for sid in j["stageIds"]}
    ran = [s for s in stages if s["stageId"] in stage_ids and s["status"] != "SKIPPED"]
    self_s = layer_self_seconds(spans)

    out = {
        "plans.build_s": self_s.get("plans", 0.0),
        "plans.build_jobs": job_layers.count("plans"),
        "operators.calls": sum(s.layer == "operators" for s in spans),
        "engine.exec_s": sum(
            (j["completionTime"] - j["submissionTime"]) / 1000.0
            for j in jobs if j.get("completionTime")
        ),
        "engine.jobs": len(jobs),
        "engine.stages": len(ran),
        "engine.tasks": sum(j["numCompletedTasks"] for j in jobs),
        "engine.failed_tasks": sum(j["numFailedTasks"] for j in jobs),
        "engine.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in ran) / 1e6,
        "engine.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in ran) / 1e6,
        "engine.spill_mb": sum(s["diskBytesSpilled"] for s in ran) / 1e6,
        "engine.gc_s": sum(s["jvmGcTime"] for s in ran) / 1000.0,
    }
    for layer in LAYERS:
        out[f"{layer}.self_s"] = self_s.get(layer, 0.0)
        out[f"{layer}.jobs"] = job_layers.count(layer)
    out = {k: v / passes for k, v in out.items() if k in PER_LAYER}
    out["sources.ann_index.cache_hit_frac"] = (
        tracer.ensure_hits / tracer.ensure_calls if tracer.ensure_calls else 0.0
    )
    return out
