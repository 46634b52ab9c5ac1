"""Sink round-trips: R10 header-CSV parity and Q18 partitioned parquet."""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile

from pyspark.sql import functions as F

from reddit_data_engineering_project_spark.operators.sinks import (
    write_csv_header,
    write_partitioned_parquet,
)
from reddit_data_engineering_project_spark.tables import table

from conftest import SF_DIR


def test_csv_sink_has_header_and_roundtrips(spark, tmp_path):
    out = os.path.join(str(tmp_path), "csv_out")
    df = table(spark, SF_DIR, "nation")
    write_csv_header(df, out)
    # R10 parity: a header line in the raw file.
    part = glob.glob(os.path.join(out, "part-*.csv"))[0]
    with open(part, encoding="utf-8") as fh:
        assert fh.readline().strip() == "n_nationkey,n_name,n_regionkey"
    back = spark.read.option("header", True).option("inferSchema", True).csv(out)
    assert back.count() == df.count()
    assert set(back.columns) == set(df.columns)


def test_partitioned_parquet_layout_and_values(spark, tmp_path):
    out = os.path.join(str(tmp_path), "pq_out")
    ev = table(spark, SF_DIR, "events").select(
        "event_id",
        "ts",
        F.coalesce(F.col("value"), F.lit(0.0)).alias("value"),
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("ds"),
    )
    write_partitioned_parquet(ev, out, "ds")
    # Hive-style day directories exist.
    days = glob.glob(os.path.join(out, "ds=*"))
    assert len(days) == ev.select("ds").distinct().count()
    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    # Partition pruning: reading one day touches only that directory.
    one_day = ev.select("ds").first()[0]
    pruned = back.filter(F.col("ds") == F.lit(one_day))
    plan = spark._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [" in plan
    assert pruned.count() == ev.filter(F.col("ds") == F.lit(one_day)).count()


#: Runs two write-then-read entries in a fresh process and prints the
#: scratch directories they left while that process still runs.
_SCRATCH_CHILD = """
import glob, os, sys, tempfile
from reddit_data_engineering_project_spark import registry
from reddit_data_engineering_project_spark.session import get_spark
registry.load_all_operators()
spark = get_spark(app_name="scratch-child", master="local[1]", shuffle_partitions=1)
for name in ("q01_csv_scan", "q18_sink_roundtrip"):
    registry.QUERIES[name](spark, sys.argv[1]).collect()
pattern = "reddit_data_engineering_project_spark_*_%d" % os.getpid()
print("\\n".join(sorted(glob.glob(os.path.join(tempfile.gettempdir(), pattern)))))
"""


def test_scratch_dirs_are_removed_when_the_process_exits():
    """The entries' per-process scratch directories outlive their lazy
    frames' reads, and go when the process that made them exits."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    done = subprocess.run(
        [sys.executable, "-c", _SCRATCH_CHILD, SF_DIR],
        capture_output=True,
        text=True,
        cwd=root,
        timeout=600,
    )
    assert done.returncode == 0, done.stderr[-2000:]
    left = done.stdout.split()
    tmp = tempfile.gettempdir()
    assert sorted(os.path.basename(p).rsplit("_", 1)[0] for p in left) == [
        "reddit_data_engineering_project_spark_csv_scan",
        "reddit_data_engineering_project_spark_sink_roundtrip",
    ], left
    assert all(os.path.dirname(p) == tmp for p in left)
    assert not [p for p in left if os.path.exists(p)]
