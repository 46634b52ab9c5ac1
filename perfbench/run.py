"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One run:

1. generates the workload's inputs from ``--seed`` (``gen.py``) into a
   fresh temporary directory under ``perfbench/_tmp/``;
2. starts ``worker.py`` in a fresh process whose working directory,
   Spark warehouse, local dirs, lake, CSVs and checkpoints all live in
   that directory, with ``SPARK_GRAFT_CPUS`` set to the usable CPU count;
3. prints one line per metric (value, unit, sample count) and, as the
   last line of standard output, the JSON result::

       {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

   With ``--trace 0`` the metrics are the end-to-end ones; with
   ``--trace 1`` the per-layer ones, and the spans go to
   ``perfbench/out/trace-<workload>-<seed>.json``;
4. stops every process it started and removes the temporary directory.

It exits non-zero without a result when the engine sources are missing
or the worker fails or overruns.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from gen import WORKLOADS, generate  # noqa: E402

#: The run must end within 180 s; leave room for teardown.
WORKER_BUDGET_S = 165
DRIVER_MEMORY = "2g"


def _session_members(sid: int) -> list[int]:
    """Live (not zombie) processes of session ``sid``. PySpark's Python
    worker daemon moves to a process group of its own but stays in the
    session the worker started."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state, fields[3] the session
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def _stop_session(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the worker's session (the JVM and Python
    workers) and wait until all of it is gone."""
    deadline = time.monotonic() + 10
    while True:
        for pid in _session_members(proc.pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        if proc.poll() is None:
            proc.wait()
        if not _session_members(proc.pid) or time.monotonic() > deadline:
            return
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its worker and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "reddit_data_engineering_project_spark", "session.py")) or not os.path.isfile(
        os.path.join(root, "tools", "check_oracle.py")
    ):
        print("run.py: engine sources not found; run from the repository root", file=sys.stderr)
        return 2

    tmp_root = os.path.join(HERE, "_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp_root)
    try:
        gen_dir = os.path.join(work, "inputs")
        t = time.perf_counter()
        generate(args.workload, args.seed, gen_dir)
        gen_s = time.perf_counter() - t
        run_dir = os.path.join(work, "run")
        scratch = os.path.join(work, "tmp")
        for d in (run_dir, scratch):
            os.makedirs(d)
        env = dict(os.environ)
        env.update(
            {
                "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
                "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
                "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
                "TMPDIR": scratch,
                "TZ": "UTC",
                # A fixed set of JIT compiler threads keeps their CPU time (left
                # out of cpu_s_per_unit) from moving into the process total when
                # an idle one would exit.
                "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads",
                "PYTHONPATH": os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
            }
        )
        # A fixed-size driver heap keeps peak RSS from following the GC's
        # heap-resizing decisions.
        submit = [f"--conf spark.driver.extraJavaOptions=-Xms{DRIVER_MEMORY}"]
        if args.trace:
            # keep every job and stage of the traced window in the status store
            submit += ["--conf spark.ui.retainedJobs=100000", "--conf spark.ui.retainedStages=100000"]
        env["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
        result_path = os.path.join(work, "result.json")
        worker_args = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": bool(args.trace),
            "gen_dir": gen_dir,
            "work_dir": run_dir,
            "result": result_path,
            "trace_out": os.path.join(HERE, "out", f"trace-{args.workload}-{args.seed}.json"),
            "t0": time.time(),
        }
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(worker_args)],
            cwd=run_dir,
            env=env,
            stdout=sys.stderr,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=WORKER_BUDGET_S - gen_s)
        except subprocess.TimeoutExpired:
            print("run.py: worker overran its time budget", file=sys.stderr)
            code = None
        finally:
            _stop_session(proc)
        if code != 0 or not os.path.exists(result_path):
            print(f"run.py: worker failed (exit {code})", file=sys.stderr)
            return 1
        with open(result_path) as fh:
            result = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass

    info = result.pop("info")
    print(f"# {args.workload} seed={args.seed} trace={args.trace} inputs generated in {gen_s:.2f} s")
    print(f"# op unit: {info['unit']}; ops={info['ops']} in {info['window_s']:.2f} s")
    print(
        f"# wall clock: throughput_per_s={info['throughput_per_s']:.4f} op_geomean_s={info['op_geomean_s']:.4f} "
        f"op_p50_s={info['op_p50_s']:.4f} op_p90_s={info['op_p90_s']:.4f}"
    )
    print(f"# set-up {info['setup_s']:.2f} s; output checks {info['checks_s']:.2f} s")
    print(f"# whole cycles {info['cycles']}; host steal during the window {info['steal_s']:.2f} CPU-s")
    if "stream_batches" in info:
        print(f"# streaming micro-batches: n={info['stream_batches']} p50={info['stream_batch_p50_s']:.4f} s")
    for name, m in result["metrics"].items():
        print(f"{name:48s} {m['value']:14.6f} {m['unit']:6s} n={m['n']}")
        del m["n"]
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
