"""Measured live-streaming throughput (Structured Streaming, availableNow).

The reference's only throughput figure is 100 rows/day (BASELINE.md); the
engine's streaming surface needs a measured number of its own. This tool
stages the sf events table as an N-file parquet source directory, then
runs the REAL ``run_tumbling_stream`` runner (file stream → watermark →
tumbling agg → idempotent per-batch parquet sink with checkpointing,
``maxFilesPerTrigger=1`` so every file is its own micro-batch) and
reports end-to-end rows/sec including checkpoint commits. On Linux it
also reports, for the timed pass, the CPU seconds of the child processes
the JVM reaped (``jvm_child_cpu_s``: Hadoop's shell-outs such as
``chmod``, from ``/proc/<jvm pid>/stat``) and the host's process and
thread creations (``process_creations``, from ``/proc/stat``).

``--runner session`` drives ``run_session_stream`` instead — the S9
``applyInPandasWithState`` event-time-timeout sessionizer (keyed by
user bucket), the stateful-heavy end of the streaming surface. Its
0-second watermark requires the source files to arrive in event-time
order (exactly the production file-drop contract), so the stateful
staging writes N time-range slices sequentially instead of
hash-repartitioning. ``--runner zscore`` drives the bucketed rolling
z-score gate (``run_zscore_stream``) over the same staging.

The stateful runners take an UNTIMED warm-up pass first (a ~200-row
2-file stream into a throwaway sink/checkpoint): a fresh session's
first stateful micro-batch pays ~3.5 s of python-worker imports and
JVM codegen that a long-running production stream amortizes to zero,
so the timed pass measures steady-state throughput, excluding the
first touch as perfbench's warm-up does.
``--cold`` skips it (the pre-r11 protocol; figures for both are in
SCALE.md).

Usage: python tools/stream_throughput.py [--sf /root/testdata/sf0.1]
           [--files 8] [--runner tumbling|session|zscore] [--cold]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from reddit_data_engineering_project_spark.session import get_spark  # noqa: E402
from reddit_data_engineering_project_spark.streaming.runner import (  # noqa: E402
    run_tumbling_stream,
)
from reddit_data_engineering_project_spark.tables import table  # noqa: E402


def _fork_counters(jvm_pid: int) -> tuple[float, int] | None:
    """(CPU s of the JVM's reaped children, host process creations), or
    None where ``/proc`` is not available."""
    try:
        with open(f"/proc/{jvm_pid}/stat") as f:
            # fields after the ")"-terminated comm: cutime, cstime are 16, 17
            fields = f.read().rsplit(")", 1)[1].split()
        with open("/proc/stat") as f:
            created = next(
                int(line.split()[1]) for line in f
                if line.startswith("processes ")
            )
    except (OSError, StopIteration):
        return None
    ticks = int(fields[13]) + int(fields[14])
    return ticks / os.sysconf("SC_CLK_TCK"), created


def _fork_delta(before, after) -> dict:
    if before is None or after is None:
        return {"jvm_child_cpu_s": None, "process_creations": None}
    return {
        "jvm_child_cpu_s": round(after[0] - before[0], 2),
        "process_creations": after[1] - before[1],
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--files", type=int, default=8)
    ap.add_argument(
        "--runner",
        choices=("tumbling", "session", "zscore"),
        default="tumbling",
    )
    ap.add_argument(
        "--cold",
        action="store_true",
        help="skip the untimed warm-up pass (measure first-touch cost too)",
    )
    args = ap.parse_args()

    spark = get_spark(app_name="stream_throughput")
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    events = table(spark, args.sf, "events")
    n_rows = events.count()

    tmp = tempfile.mkdtemp(prefix="streamtp_")
    src = os.path.join(tmp, "src")
    sink = os.path.join(tmp, "sink")
    ckpt = os.path.join(tmp, "ckpt")
    try:
        if args.runner != "tumbling":
            from pyspark.sql import Window, functions as F

            from reddit_data_engineering_project_spark.streaming.stateful import (  # noqa: E501
                run_session_stream,
                run_zscore_stream,
            )

            # Event-time-ordered staging: the sessionizer's 0 s
            # watermark treats any event older than the max seen as
            # late, so files must arrive in time order (the production
            # file-drop contract). Sequential writes keep mtime order
            # for the file stream's listing.
            slice_col = F.ntile(args.files).over(
                Window.orderBy(F.col("ts").asc_nulls_first(), "event_id")
            )
            staged = events.withColumn("slice", slice_col).persist()
            staged.count()
            for i in range(1, args.files + 1):
                staged.filter(F.col("slice") == i).drop(
                    "slice"
                ).coalesce(1).write.mode("append").parquet(src)
            staged.unpersist()
            runner_fn = {
                "session": run_session_stream,
                "zscore": run_zscore_stream,
            }[args.runner]
            metric = f"stream_{args.runner}_rows_per_sec"
            if not args.cold:
                # Untimed warm-up on a tiny 2-file prefix: imports +
                # codegen, throwaway state/sink. Files must land in
                # event-time order (the 0 s-watermark contract), so the
                # 200-row head is written as two sequential time slices.
                warm = os.path.join(tmp, "warm")
                head = events.orderBy(
                    F.col("ts").asc_nulls_first(), "event_id"
                ).limit(200).collect()
                for rows in (head[:100], head[100:]):
                    spark.createDataFrame(
                        rows, schema=events.schema
                    ).coalesce(1).write.mode("append").parquet(
                        warm + "/src"
                    )
                runner_fn(
                    spark, warm + "/src", warm + "/sink", warm + "/ckpt"
                )
            forks0 = _fork_counters(jvm_pid)
            t0 = time.time()
            runner_fn(spark, src, sink, ckpt)
            wall = time.time() - t0
            forks1 = _fork_counters(jvm_pid)
        else:
            events.repartition(args.files).write.mode("overwrite").parquet(
                src
            )
            if not args.cold:
                # Same exclude-first-touch discipline as the stateful
                # runners: the first streaming agg in a fresh session
                # pays JVM codegen + state-store init a production
                # stream amortizes to zero.
                warm = os.path.join(tmp, "warm")
                events.limit(200).repartition(2).write.parquet(
                    warm + "/src"
                )
                run_tumbling_stream(
                    spark, warm + "/src", warm + "/sink", warm + "/ckpt"
                )
            forks0 = _fork_counters(jvm_pid)
            t0 = time.time()
            run_tumbling_stream(spark, src, sink, ckpt)
            wall = time.time() - t0
            forks1 = _fork_counters(jvm_pid)
            metric = "stream_tumbling_rows_per_sec"
        out_rows = spark.read.parquet(os.path.join(sink, "batch=*")).count()
        print(
            json.dumps(
                {
                    "metric": metric,
                    "value": round(n_rows / wall, 1),
                    "unit": "rows/sec",
                    "input_rows": n_rows,
                    "micro_batches": args.files,
                    "wall_sec": round(wall, 2),
                    "output_rows": out_rows,
                    **_fork_delta(forks0, forks1),
                }
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
