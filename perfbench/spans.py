"""Span tracing for the traced run (``--trace 1``).

A span is one call into a layer: its name is the layer (the module path
under ``reddit_data_engineering_project_spark``), with start, end, the
index of the span that caused it, and the run id of the operation it
belongs to. Spans are kept in memory and written out when the run ends.

Layer calls are caught two ways, both from the benchmark's own files:

* the workloads open a span around each call they make into a layer
  (including the action that forces a lazy result), and
* :func:`instrument` wraps the public entry points in
  :data:`ENTRY_POINTS` in place, so calls one layer makes into another
  (``run_pipeline`` -> ``write_csv_header``, a streaming micro-batch ->
  ``upsert_parquet``) open nested spans too.

Spark work is attributed to the innermost open span's layer through the
job group: a span that changes layer sets ``spark.jobGroup.id`` to
``pb:<layer>`` for its thread and restores the previous group on exit.
After the traced window the Spark status store is read once and every
stage of every job started inside the window is charged to its job's
layer. (Structured Streaming tags its own jobs with the query's run id;
those are charged to ``streaming.runner``.)
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "reddit_data_engineering_project_spark"
GROUP_PREFIX = "pb:"
JOB_GROUP_PROP = "spark.jobGroup.id"
ROOT = "bench"

#: Public functions the workloads reach, per layer. Only these are
#: wrapped (not every function of a module): functions that get pickled
#: into Python workers must stay plain module functions.
ENTRY_POINTS: dict[str, tuple[str, ...]] = {
    "session": ("get_spark", "ensure_session_confs"),
    "registry": ("load_all_operators",),
    "tables": ("table", "ensure_min_parallelism"),
    "transforms.posts": ("clean_posts",),
    "pipeline": ("run_pipeline",),
    "metrics": ("with_run_metrics",),
    "operators.sinks": ("write_csv_header",),
    "operators.upsert": ("upsert_parquet", "keep_latest"),
    "operators.curation": ("curate",),
    "operators.text_analysis": ("tokens",),
    "operators.dedup": (
        "minhash_pairs_over",
        "propagate_min_labels",
        "shingles",
        "minhash_signatures",
        "band_buckets",
    ),
    "operators.similarity": ("semantic_dedup_over", "embedded"),
    "streaming.runner": ("run_tumbling_stream", "run_upsert_stream"),
}


def layer_of(module_name: str) -> str:
    """``reddit_data_engineering_project_spark.operators.joins`` -> ``operators.joins``."""
    return module_name[len(PKG) + 1 :] if module_name.startswith(PKG + ".") else module_name


class Tracer:
    """In-memory span recorder. Inactive tracers cost one attribute test
    per wrapped call; ``span`` then records nothing."""

    def __init__(self) -> None:
        self.active = False
        self.spans: list[dict] = []
        self.run_id = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._main_thread = threading.get_ident()

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main_thread:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _parent(self, stack: list[int]) -> int | None:
        # A span opened on another thread (a streaming micro-batch callback)
        # is caused by whatever the main thread is blocked in.
        if stack:
            return stack[-1]
        return self._main_stack[-1] if self._main_stack else None

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        stack = self._stack()
        parent = self._parent(stack)
        parent_layer = self.spans[parent]["name"] if parent is not None else None
        switch = parent_layer != name
        prev_group = _swap_job_group(GROUP_PREFIX + name) if switch else None
        with self._lock:
            idx = len(self.spans)
            self.spans.append(
                {
                    "name": name,
                    "start": time.perf_counter(),
                    "end": None,
                    "parent": parent,
                    "run_id": self.run_id,
                    "thread": threading.get_ident(),
                }
            )
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx]["end"] = time.perf_counter()
            if switch:
                _swap_job_group(prev_group)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh)


def _swap_job_group(group: str | None) -> str | None:
    """Set this thread's Spark job group; return the previous one."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return None
    prev = sc.getLocalProperty(JOB_GROUP_PROP)
    sc.setLocalProperty(JOB_GROUP_PROP, group)
    return prev


def instrument(tracer: Tracer) -> None:
    """Wrap every :data:`ENTRY_POINTS` function in a span of its layer,
    rebinding every name in the package that refers to it (so
    ``from .x import f`` call sites see the wrapper too)."""
    import importlib

    originals = {}
    for layer, names in ENTRY_POINTS.items():
        module = importlib.import_module(f"{PKG}.{layer}")
        for name in names:
            fn = getattr(module, name)
            originals[id(fn)] = _wrap(tracer, layer, fn)
    for mod_name, module in list(sys.modules.items()):
        if module is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
            continue
        for attr, value in list(vars(module).items()):
            wrapper = originals.get(id(value))
            if wrapper is not None:
                setattr(module, attr, wrapper)


def _wrap(tracer: Tracer, layer: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not tracer.active:
            return fn(*args, **kwargs)
        with tracer.span(layer):
            return fn(*args, **kwargs)

    return wrapper


# --- span arithmetic -------------------------------------------------------


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part of its interval that its child
    spans cover (children clipped to the parent; overlapping children,
    e.g. from two threads, count once)."""
    children: dict[int, list[int]] = defaultdict(list)
    for i, s in enumerate(spans):
        if s["parent"] is not None:
            children[s["parent"]].append(i)
    out = []
    for i, s in enumerate(spans):
        lo, hi = s["start"], s["end"]
        clipped = [
            (max(lo, spans[c]["start"]), min(hi, spans[c]["end"]))
            for c in children[i]
            if spans[c]["end"] > lo and spans[c]["start"] < hi
        ]
        out.append((hi - lo) - _covered(clipped))
    return out


def layer_self_seconds(spans: list[dict]) -> dict[str, float]:
    totals: dict[str, float] = defaultdict(float)
    for s, t in zip(spans, self_times(spans)):
        totals[s["name"]] += t
    return dict(totals)


# --- Spark status store ----------------------------------------------------


class StatusStore:
    """One-call JSON reads of the Spark status store (works with the UI
    disabled): a py4j round trip per list, not per field."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(scala_module.__getattr__("MODULE$"))

    def jobs(self) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))

    def stages(self) -> list[dict]:
        no_quantiles = self._sc._gateway.new_array(self._sc._jvm.double, 0)
        stages = self._store.stageList(None, False, False, no_quantiles, self._sc._jvm.java.util.ArrayList())
        return json.loads(self._mapper.writeValueAsString(stages))

    def max_job_id(self) -> int:
        """Highest job id so far, once the listener bus has delivered every
        event posted up to now to the status store."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        return max((j["jobId"] for j in self.jobs()), default=-1)


#: Stage counters summed per layer.
STAGE_COUNTERS = (
    "executorRunTime",
    "jvmGcTime",
    "shuffleWriteBytes",
    "shuffleReadBytes",
    "outputBytes",
    "numTasks",
    "numFailedTasks",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


def stage_counters_by_layer(
    jobs: list[dict], stages: list[dict], job_ids: range, stream_runs: set[str]
) -> dict[str, dict[str, float]]:
    """Sum :data:`STAGE_COUNTERS` per layer over the stages of the jobs in
    ``job_ids``. A stage shared by several jobs is charged once, to the
    first; jobs outside any span are charged to :data:`ROOT`."""
    stage_layer: dict[int, str] = {}
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        if job["jobId"] not in job_ids:
            continue
        group = job.get("jobGroup")
        if group and group.startswith(GROUP_PREFIX):
            layer = group[len(GROUP_PREFIX) :]
        elif group in stream_runs:
            layer = "streaming.runner"
        else:
            layer = ROOT
        for sid in job["stageIds"]:
            stage_layer.setdefault(sid, layer)
    totals: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(STAGE_COUNTERS, 0.0))
    for st in stages:
        layer = stage_layer.get(st["stageId"])
        if layer is None or st.get("status") == "SKIPPED":
            continue
        for key in STAGE_COUNTERS:
            totals[layer][key] += st.get(key) or 0
    return dict(totals)
