"""The one file-stream driver behind every live runner
(``streaming/runner.py``: ``_file_stream``, ``_overwrite_sink``,
``_drain``).

Three pins:

1. the confs ``_drain`` sets for a run (the ``state_shards`` swap of
   ``spark.sql.shuffle.partitions`` and the checkpoint file manager)
   are scoped to the run: the session's prior values come back after a
   normal run AND after a run whose batch write fails;
2. a checkpoint on the local filesystem is written through the
   FileSystem-based checkpoint manager, every other scheme keeps
   Spark's default;
3. no module of the package opens, sinks or triggers a file stream
   except through the driver, so "how a file stream is run" lives in
   one place.
"""

from __future__ import annotations

import ast
import importlib
import os
import pathlib

import pytest

from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from conftest import SF_DIR

PKG = pathlib.Path(__file__).resolve().parent.parent / (
    "reddit_data_engineering_project_spark"
)

SHUFFLE = "spark.sql.shuffle.partitions"
MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _upsert_stream(spark, src, target, ckpt):
    from reddit_data_engineering_project_spark.streaming.runner import (
        run_upsert_stream,
    )

    run_upsert_stream(
        spark, src, target, ckpt, keys=["event_id"], recency_col="ts"
    )


def _events_source(spark, tmp_path) -> str:
    from reddit_data_engineering_project_spark.tables import table

    src = str(tmp_path / "src")
    table(spark, SF_DIR, "events").filter(
        F.col("event_id") < 300
    ).coalesce(1).write.parquet(src)
    return src


@pytest.mark.parametrize(
    "case",
    [
        "runner.run_upsert_stream",
        "runner.run_tumbling_stream",
        "stateful.run_zscore_stream",
        "stateful.run_session_stream",
    ],
)
def test_state_shards_swap_is_scoped_to_the_run(spark, tmp_path, case):
    module, name = case.split(".")
    if name == "run_upsert_stream":
        # no shard swap: pins the checkpoint-manager swap on its own
        run = _upsert_stream
    else:
        run = getattr(
            importlib.import_module(
                f"reddit_data_engineering_project_spark.streaming.{module}"
            ),
            name,
        )
    src = _events_source(spark, tmp_path)
    # a regular file where the sink's parent directory should be: the
    # first batch write fails inside the running query
    blocker = tmp_path / "blocker"
    blocker.write_text("")

    before = spark.conf.get(SHUFFLE)
    # 5 differs from every runner's state_shards default
    spark.conf.set(SHUFFLE, "5")
    assert spark.conf.get(MANAGER, None) is None
    try:
        run(spark, src, str(tmp_path / "sink"), str(tmp_path / "ckpt"))
        assert spark.conf.get(SHUFFLE) == "5"
        assert spark.conf.get(MANAGER, None) is None

        with pytest.raises(StreamingQueryException):
            run(spark, src, str(blocker / "sink"), str(tmp_path / "ckpt2"))
        assert spark.conf.get(SHUFFLE) == "5"
        assert spark.conf.get(MANAGER, None) is None
    finally:
        spark.conf.set(SHUFFLE, before)


def test_local_checkpoint_runs_with_the_filesystem_manager(spark, tmp_path):
    from reddit_data_engineering_project_spark.streaming.runner import (
        _drain,
        _file_stream,
    )

    seen = []

    def record(batch_df, batch_id):
        seen.append(batch_df.sparkSession.conf.get(MANAGER, None))

    src = _events_source(spark, tmp_path)
    _drain(
        _file_stream(spark, src), record, str(tmp_path / "ckpt"), "append"
    )
    assert seen and set(seen) == {FS_MANAGER}
    assert spark.conf.get(MANAGER, None) is None


@pytest.mark.parametrize(
    "checkpoint_dir, default_fs, manager",
    [
        ("/tmp/x", "file:///", FS_MANAGER),
        ("file:///tmp/x", "file:///", FS_MANAGER),
        ("file:///tmp/x", "hdfs://nn:8020", FS_MANAGER),
        ("ckpt/x", "file:///", FS_MANAGER),
        ("/tmp/x", "hdfs://nn:8020", None),
        ("hdfs://nn:8020/ckpt", "file:///", None),
        ("s3a://bucket/ckpt", "file:///", None),
    ],
)
def test_checkpoint_manager_is_chosen_by_scheme(
    checkpoint_dir, default_fs, manager
):
    from reddit_data_engineering_project_spark.streaming.runner import (
        _checkpoint_manager,
    )

    assert _checkpoint_manager(checkpoint_dir, default_fs) == manager


def _stream_entries(tree: ast.Module):
    """(enclosing top-level name, entry) for every ``.readStream``,
    ``.writeStream`` and ``trigger(availableNow=...)`` in a module."""
    for top in tree.body:
        owner = getattr(top, "name", None)
        for node in ast.walk(top):
            if isinstance(node, ast.Attribute) and node.attr in (
                "readStream",
                "writeStream",
            ):
                yield owner, node.attr
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "trigger"
                and any(k.arg == "availableNow" for k in node.keywords)
            ):
                yield owner, "trigger(availableNow)"


def test_file_streams_run_only_through_the_driver():
    found = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text(), filename=str(path))
        found += [(rel, owner, what) for owner, what in _stream_entries(tree)]
    assert sorted(found) == [
        ("streaming/runner.py", "_drain", "trigger(availableNow)"),
        ("streaming/runner.py", "_drain", "writeStream"),
        ("streaming/runner.py", "_file_stream", "readStream"),
    ], os.linesep.join(map(str, found))
