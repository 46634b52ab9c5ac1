"""Crash-window fault injection for the streaming runners (round 13).

The runners' exactly-once story rests on one documented contract
(`runner.py`: "foreachBatch is at-least-once: a batch whose files were
written but whose checkpoint commit was lost is REPLAYED on restart;
overwrite-mode batch={id} directories make the replay rewrite the same
files"). Every existing test exercised clean completions, checkpointed
re-runs, and incremental arrival — none exercised the actual crash
window the contract exists for. These tests inject it directly:

* deleting ``<ckpt>/commits/<last>`` is byte-for-byte what a crash
  between the sink write and the offset commit leaves behind — Spark
  reconstructs the batch from ``offsets/<last>`` on restart and
  re-executes it;
* additionally deleting a part-file from the sink's ``batch=<last>``
  directory models the harder case (crash MID-write: a torn sink), which
  only overwrite-mode idempotency can repair — an append-mode sink would
  either duplicate or stay torn.

For the stateful runner the replay also exercises state-store version
reload (re-executing batch N loads state version N-1), which no clean
run ever does.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from reddit_data_engineering_project_spark.streaming.runner import (
    run_tumbling_stream,
)
from reddit_data_engineering_project_spark.tables import table

from conftest import SF_DIR


def _sorted_rows(spark, sink: str):
    df = spark.read.option("recursiveFileLookup", True).parquet(sink)
    return sorted(tuple(r) for r in df.collect())


def _last_committed(ckpt: str) -> int:
    commits = [
        int(f)
        for f in os.listdir(os.path.join(ckpt, "commits"))
        if f.isdigit()
    ]
    assert commits, "stream committed no batches"
    return max(commits)

def _rm_with_crc(path: str) -> None:
    """Remove a file AND its Hadoop checksum sidecar ``.{name}.crc``,
    as a crash that loses the file would. A local checkpoint is written
    through the FileSystem-based checkpoint manager (``_drain``), whose
    rename replaces a stale sidecar with the new file's own, so the
    later re-write of the same path succeeds either way; under Spark's
    default FileContext manager a stale sidecar would make that
    re-write fail as 'concurrently used' instead of replaying."""
    os.remove(path)
    crc = os.path.join(
        os.path.dirname(path), f".{os.path.basename(path)}.crc"
    )
    if os.path.exists(crc):
        os.remove(crc)


def _inject_crash(ckpt: str, sink: str, torn_sink: bool) -> int:
    """Simulate a crash after batch <last>'s sink write began but before
    its offset commit: drop the commit marker, optionally tear the sink."""
    last = _last_committed(ckpt)
    _rm_with_crc(os.path.join(ckpt, "commits", str(last)))
    if torn_sink:
        bdir = os.path.join(sink, f"batch={last}")
        parts = [f for f in os.listdir(bdir) if f.endswith(".parquet")]
        if parts:  # an empty no-data batch has nothing to tear
            _rm_with_crc(os.path.join(bdir, parts[0]))
        # the _SUCCESS marker of the torn write must not vouch either
        marker = os.path.join(bdir, "_SUCCESS")
        if os.path.exists(marker):
            _rm_with_crc(marker)
    return last


def test_tumbling_replay_after_lost_commit_and_torn_sink(spark, tmp_path):
    src = os.path.join(str(tmp_path), "src")
    sink = os.path.join(str(tmp_path), "sink")
    ckpt = os.path.join(str(tmp_path), "ckpt")

    events = table(spark, SF_DIR, "events").select(
        "event_id",
        "ts",
        "event_type",
        F.coalesce(F.col("value"), F.lit(0.0)).alias("value"),
    )
    events.repartition(4).write.parquet(src)

    run_tumbling_stream(spark, src, sink, ckpt)
    clean = _sorted_rows(spark, sink)
    batch_dirs = sorted(d for d in os.listdir(sink) if d.startswith("batch="))

    last = _inject_crash(ckpt, sink, torn_sink=True)

    run_tumbling_stream(spark, src, sink, ckpt)  # restart replays <last>
    assert _sorted_rows(spark, sink) == clean
    assert sorted(
        d for d in os.listdir(sink) if d.startswith("batch=")
    ) == batch_dirs
    assert _last_committed(ckpt) == last  # the commit was re-laid, not skipped


def test_stateful_zscore_replay_after_lost_commit(spark, tmp_path):
    """The stateful form: replaying the last batch reloads state version
    N-1 from the store and re-folds — output must equal the
    uninterrupted run row-for-row (update-mode emissions included)."""
    from reddit_data_engineering_project_spark.streaming.stateful import (
        run_zscore_stream,
    )

    src = os.path.join(str(tmp_path), "src")
    sink = os.path.join(str(tmp_path), "sink")
    ckpt = os.path.join(str(tmp_path), "ckpt")

    events = table(spark, SF_DIR, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    events.repartition(4).write.parquet(src)

    run_zscore_stream(spark, src, sink, ckpt)
    clean = _sorted_rows(spark, sink)
    assert clean, "stateful stream emitted nothing"

    _inject_crash(ckpt, sink, torn_sink=True)

    run_zscore_stream(spark, src, sink, ckpt)
    assert _sorted_rows(spark, sink) == clean

    # and a full checkpointed re-run after the repair is still a no-op
    before = _sorted_rows(spark, sink)
    run_zscore_stream(spark, src, sink, ckpt)
    assert _sorted_rows(spark, sink) == before


def test_replay_with_checkpoint_but_missing_sink_batch(spark, tmp_path):
    """The inverse tear: the COMMIT survived but the sink batch dir was
    lost wholesale (operator deletion, failed volume). The stream
    rightly ingests nothing on re-run — the checkpoint, not the sink, is
    the source of truth — so recovery is REPROCESSING from a fresh
    checkpoint, which must rebuild the identical sink. This pins the
    documented recovery procedure, not just the happy path."""
    src = os.path.join(str(tmp_path), "src")
    sink = os.path.join(str(tmp_path), "sink")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    ckpt2 = os.path.join(str(tmp_path), "ckpt2")

    events = table(spark, SF_DIR, "events").select(
        "event_id",
        "ts",
        "event_type",
        F.coalesce(F.col("value"), F.lit(0.0)).alias("value"),
    )
    events.repartition(3).write.parquet(src)

    run_tumbling_stream(spark, src, sink, ckpt)
    clean = _sorted_rows(spark, sink)

    last = _last_committed(ckpt)
    shutil.rmtree(os.path.join(sink, f"batch={last}"))
    run_tumbling_stream(spark, src, sink, ckpt)  # commit intact: no-op
    assert _last_committed(ckpt) == last

    shutil.rmtree(sink)
    run_tumbling_stream(spark, src, sink, ckpt2)  # fresh-checkpoint rebuild
    assert _sorted_rows(spark, sink) == clean


def test_upsert_merge_replay_after_lost_commit(spark, tmp_path):
    """The upsert runner's replay idempotency comes from a DIFFERENT
    mechanism than the batch={id} sinks: re-merging a replayed batch
    through keep-latest-per-key must be a value-level no-op. Inject the
    lost-commit crash and require the merged target identical."""
    from reddit_data_engineering_project_spark.streaming.runner import (
        run_upsert_stream,
    )

    src = os.path.join(str(tmp_path), "src")
    target = os.path.join(str(tmp_path), "target")
    ckpt = os.path.join(str(tmp_path), "ckpt")

    events = table(spark, SF_DIR, "events").select(
        "event_id",
        "ts",
        "event_type",
        F.coalesce(F.col("value"), F.lit(0.0)).alias("value"),
        F.to_date("ts").alias("ds"),
        F.lit(1).alias("ingest_version"),
    )
    events.repartition(3).write.parquet(src)

    run_upsert_stream(
        spark, src, target, ckpt,
        keys=["event_id"], recency_col="ingest_version",
        partition_col="ds",
    )
    clean = _sorted_rows(spark, target)
    assert clean

    last = _last_committed(ckpt)
    _rm_with_crc(os.path.join(ckpt, "commits", str(last)))

    run_upsert_stream(
        spark, src, target, ckpt,
        keys=["event_id"], recency_col="ingest_version",
        partition_col="ds",
    )
    assert _sorted_rows(spark, target) == clean


def test_session_bucketed_replay_after_lost_commit(spark, tmp_path):
    """Stateful replay for the SESSIONIZER: re-executing the last batch
    reloads state version N-1 AND re-arms event-time timeouts — the
    timer path no clean run replays. Output must match row-for-row."""
    from reddit_data_engineering_project_spark.streaming.stateful import (
        run_session_stream,
    )

    src = os.path.join(str(tmp_path), "src")
    sink = os.path.join(str(tmp_path), "sink")
    ckpt = os.path.join(str(tmp_path), "ckpt")

    events = table(spark, SF_DIR, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    # the sessionizer's 0 s watermark needs event-time-ordered file
    # arrival (the production file-drop contract the throughput tool
    # documents): write 3 sequential time slices
    ordered = events.orderBy(F.col("ts").asc_nulls_first()).collect()
    third = (len(ordered) + 2) // 3
    for i in range(3):
        spark.createDataFrame(
            ordered[i * third : (i + 1) * third], schema=events.schema
        ).coalesce(1).write.mode("append").parquet(src)

    run_session_stream(spark, src, sink, ckpt, n_buckets=4)
    clean = _sorted_rows(spark, sink)
    assert clean, "sessionizer emitted nothing"

    _inject_crash(ckpt, sink, torn_sink=True)

    run_session_stream(spark, src, sink, ckpt, n_buckets=4)
    assert _sorted_rows(spark, sink) == clean


def test_dedup_index_stream_replay_after_lost_commit(spark, tmp_path):
    """Crash-window replay for the dedup-index ingest gate — the one
    idempotent-sink runner the five mechanisms above didn't cover (r13
    verdict item 6). The replayed micro-batch must re-shingle, re-sign,
    re-join the STORED band index, and overwrite its batch=<id> sink
    directory to the uninterrupted pair set row-for-row — the stored
    index is read-only state, so replay correctness here proves the
    batch's flagged pairs derive only from (batch bytes, index), never
    from lost in-flight session state."""
    from reddit_data_engineering_project_spark.operators.dedup import (
        build_band_index,
    )
    from reddit_data_engineering_project_spark.streaming.runner import (
        run_dedup_index_stream,
    )

    wh = os.path.join(str(tmp_path), "wh")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS sdi_replay LOCATION '{wh}'")
    try:
        docs = table(spark, SF_DIR, "documents")
        is_inc = F.col("doc_id") % 10 == 0
        inc, corpus = docs.filter(is_inc), docs.filter(~is_inc)
        build_band_index(corpus, "sdi_replay.corpus_bands")

        src = os.path.join(str(tmp_path), "incoming")
        sink = os.path.join(str(tmp_path), "flagged")
        ckpt = os.path.join(str(tmp_path), "ckpt")
        inc.repartition(3).write.parquet(src)  # 3 micro-batches

        run_dedup_index_stream(
            spark, src, "sdi_replay.corpus_bands", corpus, sink, ckpt
        )
        clean = _sorted_rows(spark, sink)
        assert clean, "planted corpus guarantees cross-side near-dups"
        batch_dirs = sorted(
            d for d in os.listdir(sink) if d.startswith("batch=")
        )

        last = _inject_crash(ckpt, sink, torn_sink=True)

        run_dedup_index_stream(
            spark, src, "sdi_replay.corpus_bands", corpus, sink, ckpt
        )
        assert _sorted_rows(spark, sink) == clean
        assert sorted(
            d for d in os.listdir(sink) if d.startswith("batch=")
        ) == batch_dirs
        assert _last_committed(ckpt) == last  # re-laid, not skipped
    finally:
        spark.sql("DROP DATABASE IF EXISTS sdi_replay CASCADE")
