"""One benchmark run of one workload, in a fresh process.

Started by ``run.py`` with one JSON argument (workload, seed, seconds,
trace flag, input/work directories, result path, spawn time). Writes a
JSON result file; ``run.py`` prints it.

Sequence:

1. set-up: imports, ``session.get_spark``, ``registry.load_all_operators``
   and one untimed warm-up pass, timed from the moment ``run.py``
   spawned this process (``setup_s``);
2. output checks on the warm-up outputs (outside all timing);
3. the measured window: cycles of ops in a closed loop until ``seconds``
   have passed and at least one whole cycle ran;
4. with tracing, ``seconds`` is split in three: the untraced window, a
   window with spans on, then another untraced one; the
   untraced windows on both sides cancel a linear warm-up drift out of
   the tracing overhead. Per-layer metrics come from the traced window's
   spans and the Spark status store.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback

from spans import ROOT, StatusStore, Tracer, instrument, layer_self_seconds, stage_counters_by_layer
from workloads import WORKLOADS

#: Thread names (as ``/proc`` shortens them) of HotSpot's JIT compilers.
JIT_THREAD_PREFIXES = ("C1 CompilerThre", "C2 CompilerThre")

#: End-to-end metrics, printed on every workload: (name, unit).
E2E = (
    ("cpu_s_per_unit", "s"),
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
)

#: Layers whose Spark jobs are attributed (they run actions).
EXEC_LAYERS = (
    "operators.sinks",
    "operators.upsert",
    "operators.relational",
    "operators.aggregates",
    "operators.joins",
    "operators.windows",
    "operators.product_analytics",
    "operators.timeseries",
    "operators.curation",
    "operators.dedup",
    "operators.similarity",
    "streaming.runner",
)
#: Layers that only build plans in these workloads: self time only.
PLAN_LAYERS = (
    "session",
    "tables",
    "transforms.posts",
    "pipeline",
    "metrics",
    "operators.text_analysis",
)


def per_layer_spec() -> list[tuple[str, str]]:
    """Every per-layer metric: (name, unit)."""
    spec = [("session.get_spark_s", "s"), ("registry.load_all_operators_s", "s")]
    for layer in EXEC_LAYERS:
        spec += [
            (f"{layer}.self_pct", "%"),
            (f"{layer}.executor_pct", "%"),
            (f"{layer}.gc_pct", "%"),
            (f"{layer}.tasks", "count"),
            (f"{layer}.shuffle_write_mb", "MB"),
            (f"{layer}.shuffle_read_mb", "MB"),
        ]
    spec += [(f"{layer}.self_pct", "%") for layer in PLAN_LAYERS]
    spec += [
        (f"{ROOT}.self_pct", "%"),
        ("operators.upsert.write_amp", "ratio"),
        ("operators.upsert.lake_mb", "MB"),
        ("operators.upsert.files_written", "count"),
        ("operators.sinks.files_written", "count"),
        ("operators.sinks.bytes_written_mb", "MB"),
        ("transforms.posts.rows_out_per_in", "ratio"),
        ("operators.dedup.verified_pairs", "count"),
        ("operators.dedup.planted_recall", "ratio"),
        ("operators.dedup.verified_per_candidate", "ratio"),
        ("streaming.runner.batches", "count"),
        ("streaming.runner.add_batch_pct", "%"),
        ("streaming.runner.wal_commit_pct", "%"),
        ("streaming.runner.query_planning_pct", "%"),
        ("trace.overhead_pct", "%"),
    ]
    return spec


def _tree_stats(root_pid: int) -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields (after the command name) of
    ``root_pid`` and its live descendants."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        stats[int(entry)] = fields
        children.setdefault(int(fields[1]), []).append(int(entry))
    out = {}
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        if pid in stats:
            out[pid] = stats[pid]
    return out


def peak_rss_mb(root_pid: int) -> float:
    """Sum of VmHWM over ``root_pid`` and its live descendants."""
    total_kb = 0
    for pid in _tree_stats(root_pid):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def tree_cpu_s(root_pid: int) -> tuple[float, float]:
    """User plus system CPU time of ``root_pid`` and its live descendants,
    each with its reaped children (Python workers); and the part of it
    spent in the JVM's just-in-time compiler threads."""
    tree = _tree_stats(root_pid)
    ticks = sum(sum(int(f[i]) for i in (11, 12, 13, 14)) for f in tree.values())
    jit = 0
    for pid in tree:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                    if not fh.read().startswith(JIT_THREAD_PREFIXES):
                        continue
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            jit += int(f[11]) + int(f[12])
    hz = os.sysconf("SC_CLK_TCK")
    return ticks / hz, jit / hz


def host_steal_s() -> float:
    """CPU time the host gave to other guests instead of this machine,
    summed over CPUs, since boot (``/proc/stat``)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def measure(wl, seconds: float, traced: bool) -> dict:
    """Run ``wl``'s cycles of ops in a closed loop until ``seconds`` have
    passed and at least one whole cycle ran."""
    lat: list[float] = []
    cpu: list[float] = []
    names: list[str] = []
    unit_of: dict[str, int] = {}
    failed = full = 0
    steal = host_steal_s()
    start = time.perf_counter()
    while True:
        for name, op in wl.cycle():
            if full and time.perf_counter() - start >= seconds:
                break
            wl.tracer.run_id += 1
            st0 = host_steal_s()
            c, j = tree_cpu_s(os.getpid())
            t = time.perf_counter()
            try:
                with wl.tracer.span(ROOT):
                    unit_of[name] = op()
            except Exception:
                traceback.print_exc()
                failed += 1
            lat.append(time.perf_counter() - t)
            c1, j1 = tree_cpu_s(os.getpid())
            cpu.append(c1 - c - (j1 - j))
            names.append(name)
            print(
                f"op {name} {lat[-1]:.4f} s, cpu {c1 - c:.2f} s, jit {j1 - j:.2f} s, host steal {host_steal_s() - st0:.2f} CPU-s",
                file=sys.stderr,
            )
            wl.after_op(traced)
        else:
            full += 1
            if time.perf_counter() - start < seconds:
                continue
        break
    return {
        "lat": lat,
        "cpu": cpu,
        "names": names,
        "unit_of": unit_of,
        "units": sum(unit_of.get(n, 0) for n in names),
        "failed": failed,
        "cycles": full,
        "steal_s": host_steal_s() - steal,
        "extra": wl.end_window(traced),
    }


def per_op_medians(names: list[str], values: list[float]) -> dict[str, float]:
    """Each op's median ``values`` entry over its runs."""
    by_name: dict[str, list[float]] = {}
    for name, v in zip(names, values):
        by_name.setdefault(name, []).append(v)
    return {name: statistics.median(vs) for name, vs in by_name.items()}


def layer_metrics(wl, window: dict, untraced: dict, store: StatusStore, job_ids: range, setup: dict) -> tuple[dict, dict]:
    """Per-layer metrics of the traced ``window`` (whose Spark jobs are
    ``job_ids``), and the raw stage counters per layer (written to the
    trace file)."""
    spans = wl.tracer.spans
    n_ops = max(len(window["lat"]), 1)
    wall = sum(s["end"] - s["start"] for s in spans if s["name"] == ROOT) or 1.0
    self_s = layer_self_seconds(spans)
    runs = getattr(wl, "started", set())
    counters = stage_counters_by_layer(store.jobs(), store.stages(), job_ids, runs)
    exec_total = sum(c["executorRunTime"] for c in counters.values()) or 1.0
    m = dict.fromkeys((name for name, _ in per_layer_spec()), 0.0)
    m["session.get_spark_s"] = setup["get_spark_s"]
    m["registry.load_all_operators_s"] = setup["load_all_operators_s"]
    for layer in EXEC_LAYERS + PLAN_LAYERS + (ROOT,):
        m[f"{layer}.self_pct"] = 100 * self_s.get(layer, 0.0) / wall
    for layer in EXEC_LAYERS:
        c = counters.get(layer)
        if c is None:
            continue
        m[f"{layer}.executor_pct"] = 100 * c["executorRunTime"] / exec_total
        m[f"{layer}.gc_pct"] = 100 * c["jvmGcTime"] / c["executorRunTime"] if c["executorRunTime"] else 0.0
        m[f"{layer}.tasks"] = c["numTasks"] / n_ops
        m[f"{layer}.shuffle_write_mb"] = c["shuffleWriteBytes"] / 2**20 / n_ops
        m[f"{layer}.shuffle_read_mb"] = c["shuffleReadBytes"] / 2**20 / n_ops
    m.update(wl.layer_extras(n_ops))
    rate = lambda w: w["units"] / sum(w["lat"])  # noqa: E731
    m["trace.overhead_pct"] = 100 * (rate(untraced) / rate(window) - 1)
    return m, counters


def run(args: dict) -> dict:
    t0 = args["t0"]
    tracer = Tracer()
    from reddit_data_engineering_project_spark import registry, session

    if args["trace"]:
        instrument(tracer)
    t = time.perf_counter()
    spark = session.get_spark()
    setup = {"get_spark_s": time.perf_counter() - t}
    t = time.perf_counter()
    registry.load_all_operators()
    setup["load_all_operators_s"] = time.perf_counter() - t
    gen_dir = args["gen_dir"]
    with open(os.path.join(gen_dir, "manifest.json")) as fh:
        manifest = json.load(fh)
    wl = WORKLOADS[args["workload"]](spark, gen_dir, manifest, args["work_dir"], tracer, args["seed"])
    wl.warmup()
    setup_s = time.time() - t0

    t = time.time()
    checks = wl.check()
    checks_s = time.time() - t
    for name, ok, detail in checks:
        print(f"check {'ok  ' if ok else 'FAIL'} {name}: {detail}", file=sys.stderr)

    wl.end_window(False)  # drop what the warm-up left behind

    # a traced run splits its measuring time over three windows
    seconds = args["seconds"] / 3 if args["trace"] else args["seconds"]
    window = measure(wl, seconds, traced=False)
    lat = window["lat"]
    rss = peak_rss_mb(os.getpid())
    # Every figure uses each op's median over the window, so none depends
    # on which ops a partly run last cycle happened to include. The bounded
    # cost is CPU time: on a shared host, wall time also measures the
    # neighbours (see README.md, "Scope notes").
    units = window["unit_of"]
    cpu = per_op_medians(window["names"], window["cpu"])
    wall = per_op_medians(window["names"], lat)
    metrics = {
        "cpu_s_per_unit": (sum(cpu.values()) / sum(units.get(n, 0) for n in cpu), "s", len(lat)),
        "setup_s": (setup_s, "s", 1),
        "peak_rss_mb": (rss, "MB", 1),
    }
    info = {
        "throughput_per_s": sum(units.get(n, 0) for n in wall) / sum(wall.values()),
        "op_geomean_s": statistics.geometric_mean(wall.values()),
        "op_p50_s": statistics.median(lat),
        "op_p90_s": statistics.quantiles(lat, n=10, method="inclusive")[-1] if len(lat) > 1 else lat[0],
        **window["extra"],
        "setup_s": setup_s,
        "checks_s": checks_s,
        "unit": wl.unit,
        "ops": len(lat),
        "window_s": sum(lat),
        "cycles": window["cycles"],
        "steal_s": window["steal_s"],
    }
    windows = [window]
    if args["trace"]:
        store = StatusStore(spark)
        first_job = store.max_job_id() + 1
        tracer.active = True
        traced = measure(wl, seconds, traced=True)
        tracer.active = False
        job_ids = range(first_job, store.max_job_id() + 1)
        after = measure(wl, seconds, traced=False)
        windows += [traced, after]
        untraced = {"lat": window["lat"] + after["lat"], "units": window["units"] + after["units"]}
        layer, counters = layer_metrics(wl, traced, untraced, store, job_ids, setup)
        metrics = {name: (layer[name], unit, len(traced["lat"])) for name, unit in per_layer_spec()}
        os.makedirs(os.path.dirname(args["trace_out"]), exist_ok=True)
        tracer.dump(args["trace_out"], {"counters": counters, "args": args, "info": info})
    spark.stop()
    return {
        **outcome(checks, windows),
        "metrics": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in metrics.items()},
        "info": info,
    }


def outcome(checks: list[tuple[str, bool, str]], windows: list[dict]) -> dict:
    """Pass/fail accounting: every output check and every timed op is one
    attempt; a wrong output and a raising op both count as failed."""
    failed = sum(1 for _, ok, _ in checks if not ok) + sum(w["failed"] for w in windows)
    attempted = len(checks) + sum(len(w["lat"]) for w in windows)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed}


def main() -> int:
    args = json.loads(sys.argv[1])
    result = run(args)
    with open(args["result"], "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
