"""``tables.table()`` infers each local corpus file's schema once.

Inferring a parquet schema runs a Spark job; ``tables._schema`` keeps
the inferred ``StructType`` per file identity (inode, mtime, size) and
the parquet read confs that change inference, so a second load of an
unchanged file runs no job, and a rewritten file, a flipped inference
conf or a directory-backed table still reads what is on disk now.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import StructType

from reddit_data_engineering_project_spark import tables as T

from conftest import SF_DIR


def _job_ids(spark) -> set[int]:
    """Ids of every job the status store has seen, once the listener
    bus has delivered the events of the jobs already run."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None))


def _write(path, columns: dict) -> None:
    pq.write_table(pa.table(columns), str(path))


def test_second_load_of_an_unchanged_file_starts_no_job(spark, tmp_path):
    shutil.copy(os.path.join(SF_DIR, "orders.parquet"), tmp_path / "orders.parquet")
    first = T.table(spark, str(tmp_path), "orders")
    before = _job_ids(spark)
    second = T.table(spark, str(tmp_path), "orders")
    assert _job_ids(spark) == before
    assert second.schema == first.schema
    assert second.count() == first.count()
    assert all(
        isinstance(schema, StructType) for _, schema in T._SCHEMAS.values()
    )


@pytest.mark.parametrize("in_place", [False, True], ids=["new_inode", "same_inode"])
def test_rewritten_file_returns_the_new_schema(spark, tmp_path, in_place):
    path = tmp_path / "region.parquet"
    _write(path, {"r_regionkey": pa.array([1, 2], pa.int64())})
    assert T.table(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    new = pa.table(
        {"r_regionkey": pa.array([1], pa.int64()), "r_name": pa.array(["x"])}
    )
    if in_place:  # same inode, new size
        ino = os.stat(path).st_ino
        with open(path, "r+b") as f:
            f.truncate(0)
            pq.write_table(new, f)
        assert os.stat(path).st_ino == ino
    else:  # write beside, then rename over: new inode
        pq.write_table(new, str(tmp_path / "tmp.parquet"))
        os.replace(tmp_path / "tmp.parquet", path)
    got = T.table(spark, str(tmp_path), "region")
    assert got.columns == ["r_regionkey", "r_name"]
    assert [tuple(r) for r in got.collect()] == [(1, "x")]


def test_flipping_binary_as_string_misses_the_memo(spark, tmp_path):
    _write(tmp_path / "region.parquet", {"r_name": pa.array([b"AFRICA"], pa.binary())})
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert T.table(spark, str(tmp_path), "region").dtypes == [("r_name", "binary")]
        spark.conf.set(key, "true")
        got = T.table(spark, str(tmp_path), "region")
        assert got.dtypes == [("r_name", "string")]
        assert got.collect()[0][0] == "AFRICA"
    finally:
        spark.conf.set(key, old)


def test_directory_backed_table_still_loads(spark, tmp_path):
    d = tmp_path / "nation.parquet"
    d.mkdir()
    _write(d / "part-0.parquet", {"n_nationkey": pa.array([0, 1], pa.int64())})
    _write(d / "part-1.parquet", {"n_nationkey": pa.array([2], pa.int64())})
    assert T._schema(spark, str(d)) is None
    got = T.table(spark, str(tmp_path), "nation")
    assert sorted(r[0] for r in got.collect()) == [0, 1, 2]
    assert os.path.realpath(d) not in T._SCHEMAS
