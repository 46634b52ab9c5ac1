"""True Structured Streaming execution path (S1-S5 live form).

``tests/test_streaming_runner.py`` drives this end-to-end: parquet file
source → event-time windowed aggregation with watermark → parquet sink
via ``foreachBatch``, one ``trigger(availableNow=True)`` pass — the
daily-batch-of-stream shape the reference's Airflow ``@daily`` schedule
implies (reference ``dags/reddit_dag.py:23``, SURVEY §1.4).

``availableNow`` processes the source's current contents in bounded
micro-batches then stops: the idempotent catch-up/backfill trigger. With
the checkpoint retained, a re-run ingests nothing new — the streaming
rendering of R16 idempotency.

Every live runner of the package — here and in ``stateful.py`` — is
built on one file-stream driver: :func:`_file_stream` (the replayable
source), :func:`_overwrite_sink` (the per-batch idempotent sink) and
:func:`_drain` (the one availableNow query). A runner keeps only its own
plan and batch body.

A checkpoint on the local filesystem is written through Spark's
FileSystem-based checkpoint manager, not its default FileContext one:
without native Hadoop libraries the FileContext rename forks a
``readlink`` per file and ``.crc`` it touches, and on ``file:`` the
FileSystem rename is a single atomic POSIX ``rename(2)`` (see
:func:`_drain`). Other schemes keep Spark's default.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..session import ensure_session_confs
from ..tables import _SESSION_GAP_MIN, contract_observe_metrics

_CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def observe_ingest_contract(stream: DataFrame, table_name: str | None):
    """Attach ``table_name``'s declared ingest contract to a stream as
    ``observe()`` metrics (``tables.PRIMARY_KEYS`` / ``VALUE_DOMAINS`` /
    ``TIME_DOMAINS``).

    The metrics ride the existing scan — zero extra pass, which is what
    makes the guard affordable on a 100 TB/day ingest. Pair with
    :func:`raise_on_contract_violations` after the run: an out-of-domain
    value would otherwise silently wrap a BIGINT cast or crash a
    collected ``F.window`` (the probed year-10000 failure) long after
    the bad row landed. ``table_name=None`` disables the gate (sources
    that are not a declared corpus table)."""
    if table_name is None:
        return stream
    metrics = contract_observe_metrics(table_name, columns=stream.columns)
    if not metrics:
        return stream
    return stream.observe("ingest_contract", *metrics)


def raise_on_contract_violations(
    query, table_name: str | None, spark: SparkSession | None = None
) -> None:
    """Fail a finished streaming run whose batches saw contract
    violations (row-local terms: null primary key, out-of-domain
    value/time). Reads the query's progress history — no data pass.

    Coverage guard (r12 advice): Spark retains at most
    ``spark.sql.streaming.numRecentProgressUpdates`` progress entries
    (session default raised to 10 000 in ``RUNTIME_CONFS``). A FULL
    buffer means earlier batches' entries may have been evicted — their
    violations would silently pass — so a full buffer REFUSES to vouch
    instead of summing what survived. A buffer below the cap can never
    have evicted (entries are only dropped when capacity is exceeded),
    so the sums are then complete."""
    if table_name is None:
        return
    progresses = list(query.recentProgress)
    cap = 100  # Spark's built-in default, the conservative floor
    if spark is not None:
        try:
            cap = int(
                spark.conf.get("spark.sql.streaming.numRecentProgressUpdates")
            )
        except Exception:
            pass
    if len(progresses) >= cap:
        raise RuntimeError(
            f"ingest-contract gate cannot vouch for the stream over "
            f"{table_name!r}: the progress buffer is full "
            f"({len(progresses)} >= numRecentProgressUpdates={cap}), so "
            f"earlier batches' observe() metrics may have been evicted; "
            f"raise spark.sql.streaming.numRecentProgressUpdates or use "
            f"larger micro-batches (maxFilesPerTrigger)"
        )
    null_pk = bad_domain = 0
    for p in progresses:
        row = (p.observedMetrics or {}).get("ingest_contract")
        if row is not None:
            null_pk += row["n_null_pk"]
            bad_domain += row["n_out_of_domain"]
    if null_pk or bad_domain:
        raise ValueError(
            f"ingest-contract violation in stream over {table_name!r}: "
            f"{null_pk} null-primary-key rows, {bad_domain} "
            f"out-of-domain rows (see tables.VALUE_DOMAINS / "
            f"TIME_DOMAINS); the sink may contain the offending batches"
        )


def _file_stream(
    spark: SparkSession,
    source_dir: str,
    *columns,
    contract_table: str | None = None,
) -> DataFrame:
    """The replayable source: ``source_dir``'s parquet files, one file
    per micro-batch, read under the schema of the files there now.

    ``columns`` project the stream BEFORE ``contract_table``'s ingest
    contract is attached (:func:`observe_ingest_contract`), so the gate
    checks exactly the terms over the columns the runner scans."""
    ensure_session_confs(spark)
    schema = spark.read.parquet(source_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    if columns:
        stream = stream.select(*columns)
    return observe_ingest_contract(stream, contract_table)


def _overwrite_sink(sink_dir: str, shape=None):
    """The idempotent sink as a ``foreachBatch`` body: each micro-batch,
    passed through ``shape`` when given, overwrites its own
    ``batch=<id>`` directory.

    foreachBatch is at-least-once: a batch whose files were written but
    whose checkpoint commit was lost is REPLAYED on restart. Writing
    each batch to its own overwrite-mode directory makes the replay
    rewrite the same files instead of appending duplicates — the
    standard idempotent-sink contract keyed on batch_id."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = batch_df if shape is None else shape(batch_df)
        out.write.mode("overwrite").parquet(
            os.path.join(sink_dir, f"batch={batch_id}")
        )

    return write_batch


def _checkpoint_manager(checkpoint_dir: str, default_fs: str) -> str | None:
    """The checkpoint file manager a query checkpointing at
    ``checkpoint_dir`` runs with: :data:`_FS_CHECKPOINT_MANAGER` when the
    path's URI scheme is ``file`` (a path without a scheme takes the
    scheme of ``default_fs``, Hadoop's ``fs.defaultFS``), ``None`` —
    Spark's default FileContext manager — for every other scheme.

    Decided from the URIs alone; no FileSystem is instantiated."""
    scheme = urlparse(checkpoint_dir).scheme or urlparse(default_fs).scheme
    return _FS_CHECKPOINT_MANAGER if scheme == "file" else None


def _drain(
    df: DataFrame,
    on_batch,
    checkpoint_dir: str,
    output_mode: str,
    *,
    state_shards: int | None = None,
    contract_table: str | None = None,
):
    """Run ``df`` through ``on_batch`` over everything the source holds:
    one ``trigger(availableNow=True)`` query, awaited to its end. Returns
    the finished ``StreamingQuery``.

    The query runs under a few session confs scoped to the run: set
    immediately before ``start()`` and restored, or unset again when
    they were unset, however the run ends, so batch queries keep their
    own settings.

    - ``state_shards`` sizes the state-store partition count through
      ``spark.sql.shuffle.partitions``; it binds only on a FRESH
      checkpoint (pinned there thereafter).
    - A checkpoint on the local filesystem (:func:`_checkpoint_manager`)
      is written through the FileSystem API
      (``FileSystemBasedCheckpointFileManager``). Spark's default
      FileContext manager renames each checkpoint and state file through
      ``ChecksumFs``, which without native Hadoop libraries forks a
      ``readlink`` for the link status of the source and destination of
      every data file and its ``.crc``. On ``file:`` the FileSystem
      rename is one POSIX ``rename(2)`` that replaces the destination
      atomically, where FileContext's overwrite is a non-atomic check,
      delete and rename. Every other scheme keeps Spark's default: on
      HDFS, ``FileSystem.rename`` does not overwrite, so an overwrite
      would silently keep the old file.

    After the run, ``contract_table``'s gate
    (:func:`raise_on_contract_violations`) reads the metrics that
    :func:`_file_stream` attached."""
    spark = df.sparkSession
    writer = (
        df.writeStream.outputMode(output_mode)
        .foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
    scoped = {}
    if state_shards is not None:
        scoped["spark.sql.shuffle.partitions"] = str(state_shards)
    default_fs = spark.sparkContext._jsc.hadoopConfiguration().get(
        "fs.defaultFS"
    )
    manager = _checkpoint_manager(checkpoint_dir, default_fs)
    if manager is not None:
        scoped[_CHECKPOINT_MANAGER_CONF] = manager
    explicit = spark.conf.getAll
    prior = {key: explicit.get(key) for key in scoped}
    try:
        for key, value in scoped.items():
            spark.conf.set(key, value)
        q = writer.start()
        q.awaitTermination()
    finally:
        for key, value in prior.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
    raise_on_contract_violations(q, contract_table, spark)
    return q


def run_enrich_stream(
    spark: SparkSession,
    source_dir: str,
    dim: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    on: str,
    contract_table: str | None = "events",
) -> None:
    """File-source stream ⋈ static dimension → parquet sink (stream-static join).

    The streaming form of the star-schema enrichment every warehouse
    pipeline runs on ingest: the fact stream joins a slowly-changing dim
    that lives as a plain DataFrame. Spark broadcasts the static side
    into every micro-batch — no state store, no watermark needed (only
    stream-STREAM joins buffer state). At 100 TB/day the fact side
    streams through unshuffled; the dim rides along as a broadcast.

    ``contract_table`` enforces that table's declared ingest contract
    per batch via observe() metrics (zero extra pass); the run raises
    after completion if any batch carried a null-key or out-of-domain
    row. Pass ``None`` for sources that are not a declared corpus
    table.
    """
    stream = _file_stream(spark, source_dir, contract_table=contract_table)
    enriched = stream.join(F.broadcast(dim), on, "left")
    _drain(
        enriched,
        _overwrite_sink(sink_dir),
        checkpoint_dir,
        "append",
        contract_table=contract_table,
    )


def run_upsert_stream(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    recency_col: str,
    partition_col: str | None = None,
) -> None:
    """File-source stream → per-micro-batch idempotent upsert (R16, live form).

    Each micro-batch merges into the parquet target through
    :func:`..operators.upsert.upsert_parquet` — keep-latest per key,
    written with dynamic partition overwrite. The merge unions the batch
    with the WHOLE target, so every micro-batch rewrites every partition
    of the target (ROADMAP item 1 narrows it to the touched ones). Two
    idempotency layers compose:

    1. the checkpoint: a re-run with the same checkpoint re-reads nothing;
    2. the merge: even a *fresh* checkpoint re-delivering every file
       produces zero duplicates, because upsert keeps one row per key.

    Layer 2 is what the reference claims ("re-running does not create
    duplicates", reference ``README.md:13``) and never implemented;
    layer 1 is the exactly-once bookkeeping Structured Streaming adds.

    Scale note: each micro-batch's read-merge-overwrite costs the size
    of the whole target, not of the batch, and grows as the target ages.
    """
    from ..operators.upsert import upsert_parquet

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        upsert_parquet(
            spark,
            batch_df,
            target_dir,
            keys=keys,
            recency_col=recency_col,
            partition_col=partition_col,
        )

    _drain(
        _file_stream(spark, source_dir), merge_batch, checkpoint_dir, "update"
    )


def run_tumbling_stream(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "1 hour",
    state_shards: int = 8,
    contract_table: str | None = "events",
) -> None:
    """File-source stream → watermarked tumbling agg → parquet sink.

    The aggregation expression is byte-identical to
    ``s01_tumbling_window``'s batch plan — the engine guarantee under
    test is batch/stream semantic equivalence.

    ``state_shards`` sizes the streaming-agg state-store partition
    count at FIRST start (pinned in the checkpoint thereafter). The
    windowed-agg state is (window, event_type)-keyed — dozens of live
    keys — so per-shard fixed cost (store open/commit per micro-batch)
    dominates: 8 shards ran 2.2× faster than 32 at sf0.1/8 files
    (4.3-4.6 s vs 9.6 s warm wall, SCALE.md). Size to ~2-4× executor
    cores on a real cluster.
    """
    stream = _file_stream(spark, source_dir, contract_table=contract_table)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    _drain(
        agg,
        _overwrite_sink(sink_dir),
        checkpoint_dir,
        "append",
        state_shards=state_shards,
        contract_table=contract_table,
    )


def run_session_stream(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    gap: str = f"{_SESSION_GAP_MIN} minutes",
    watermark: str = "1 hour",
    contract_table: str | None = "events",
) -> None:
    """File-source stream → watermarked session windows → parquet sink.

    The live form of ``s03_session_window`` with the same aggregation
    expressions (batch/stream semantic equivalence is the guarantee
    under test). Session-window state is MERGEABLE: late-but-in-watermark
    events can join or bridge existing sessions, so the state store keeps
    only open sessions and the watermark closes them — state ∝ active
    users × open sessions, independent of stream length. Completed
    sessions emit on watermark advance (append mode), which is why the
    sink sees a session only after its gap has provably expired.
    """
    stream = _file_stream(spark, source_dir, contract_table=contract_table)
    agg = (
        stream.withColumn("value", F.coalesce(F.col("value"), F.lit(0.0)))
        .withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            "session_start",
            "session_end",
            "n_events",
            "session_value",
        )
    )
    _drain(
        agg,
        _overwrite_sink(sink_dir),
        checkpoint_dir,
        "append",
        contract_table=contract_table,
    )


def run_user_profile_stream(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
) -> None:
    """File-source stream → per-user running profile → parquet sink.

    The online-feature-store shape: event count, value sum (a NULL
    value counts as 0.0) and last event time per user, kept across
    micro-batches and restarts in the checkpoint's state store. It is
    a built-in streaming aggregation, which the engine incrementalizes
    itself — no Python state function. Update mode: each micro-batch
    emits the current profile of every user it touched, so the latest
    row per user equals the batch ``groupBy`` over everything read so
    far; ``last_ts`` is NULL for a user whose event times are all NULL,
    as in the batch ``max``.
    """
    profiles = (
        _file_stream(spark, source_dir)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.coalesce(F.col("value"), F.lit(0.0))).alias(
                "total_value"
            ),
            F.max("ts").alias("last_ts"),
        )
    )
    _drain(profiles, _overwrite_sink(sink_dir), checkpoint_dir, "update")


def run_dedup_index_stream(
    spark: SparkSession,
    source_dir: str,
    index_table: str,
    docs: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
) -> None:
    """Streaming increment ⋈ persisted band index → flagged near-dups.

    The live form of incremental near-dup (``x02_incremental_neardup`` /
    ``dedup.incremental_neardup_with_index``): document micro-batches
    arrive as parquet files, each batch is shingled + MinHash-signed +
    banded INSIDE ``foreachBatch`` (signature aggregation needs a batch
    boundary, which foreachBatch provides — the stream itself stays
    unaggregated), joined against the stored bucketed band index, and the
    exact-Jaccard-verified (inc_doc, corpus_doc) pairs land in a
    per-batch idempotent sink.

    Scale shape: per micro-batch work ∝ |batch| + |collisions| — the
    corpus index is read in place (bucketed by band_hash, no index-side
    shuffle; ``tests/test_band_index.py`` pins that plan) and the batch
    side is bounded by trigger sizing. This is the always-on ingest gate
    a 100 TB lake runs: new crawl files stream in, near-dups of the
    resident corpus are flagged before they enter the lake.

    ``docs`` must cover the TEXT of the indexed corpus (verification
    re-shingles candidates); batch text comes from the batch itself.

    Recall scope: verification's all-pairs "free recall" (see
    ``_verify_jaccard``) is per micro-batch here. A near-threshold pair
    that misses every band DIRECTLY (≈2.8% at exactly J=0.6 with 8×2
    banding) is recovered by the one-shot batch path only when both
    docs enter the candidate pool via other partners; if those partners
    land in different micro-batches the streamed union misses it. The
    planted corpus' pairs sit at J≥0.8 (direct-collision recall
    0.9997+), so ``tests/test_stream_dedup_index.py`` can assert exact
    parity with the batch path; a future corpus with organic pairs just
    above threshold would make the streamed set a strict subset — the
    correct relaxation then is subset + direct-collision coverage, not
    weakening the batch oracle.
    """
    from ..operators.dedup import incremental_neardup_with_index

    write_pairs = _overwrite_sink(sink_dir)

    def flag_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # Verification persists candidate intermediates for its plan
        # branches (_verify_jaccard); in an always-on stream those would
        # accumulate per micro-batch in the session CacheManager and
        # degrade later batches (the measured ~10x cache-pressure
        # inflation documented in _verify_jaccard). Release ONLY what
        # this batch registered (via persisted_out): a blanket
        # clearCache() would also evict caller-owned caches (e.g. a
        # cached `docs` corpus), silently re-pricing every later batch
        # at |corpus|.
        batch_persisted: list = []
        pairs = incremental_neardup_with_index(
            spark,
            batch_df,
            docs.unionByName(batch_df),
            index_table,
            persisted_out=batch_persisted,
        )
        write_pairs(pairs, batch_id)
        for cached in batch_persisted:
            cached.unpersist(False)

    _drain(
        _file_stream(spark, source_dir), flag_batch, checkpoint_dir, "append"
    )


def run_profile_stream(
    spark: SparkSession,
    source_dir: str,
    stats_table: str,
    checkpoint_dir: str,
) -> None:
    """Streaming statistics maintenance: micro-batch → mergeable stats rows.

    The live form of the incremental profile (``operators/profile.py``):
    each document micro-batch reduces to |sources| profile rows — exact
    counts/sums/min-max plus HLL sketches — appended to the stored stats
    table keyed by the micro-batch id. ``merged_profile`` over that
    table is then always current without ever rescanning the corpus:
    statistics maintenance becomes a side effect of ingest, which is the
    only shape that works when the corpus itself is 100 TB and append-only.

    Idempotency note: ``foreachBatch`` is at-least-once, and a parquet
    APPEND replayed after a lost checkpoint commit would double-count a
    batch. Profile rows are therefore keyed by ``batch_id`` and written
    via dynamic partition overwrite of that batch's partition — the
    replay rewrites the same rows instead of duplicating them (the same
    idempotent-sink contract as the other runners, applied to stats).
    """
    from ..operators.profile import batch_profile

    def profile_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # foreachBatch hands the batch a CLONED session; confs set on the
        # outer session mid-stream do not reach it, so the dynamic
        # partition-overwrite conf must be set on the batch's own
        # session or the insert silently degrades to a full-table
        # (static) overwrite that keeps only the last batch.
        session = batch_df.sparkSession
        rows = batch_profile(batch_df, int(batch_id))
        if not session.catalog.tableExists(stats_table):
            (
                rows.write.mode("overwrite")
                .partitionBy("batch_id")
                .format("parquet")
                .saveAsTable(stats_table)
            )
            return
        # insertInto is POSITIONAL and a partitioned table stores its
        # partition column last — reorder to the table's layout, then
        # dynamic-overwrite so an at-least-once replay rewrites this
        # batch's partition instead of duplicating it.
        session.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic"
        )
        table_cols = session.table(stats_table).columns
        rows.select(*table_cols).write.mode("overwrite").insertInto(
            stats_table
        )

    stream = _file_stream(spark, source_dir)
    _drain(stream, profile_batch, checkpoint_dir, "append")


def run_topk_stream(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "1 hour",
    k: int = 3,
) -> None:
    """File-source stream → watermarked window agg → per-batch top-k rank.

    The live form of ``s07_windowed_topk`` and the documented pattern
    its docstring names: ranking is not expressible inside an append
    stream (rank over a growing window would need retractions), so the
    WINDOWED AGGREGATE streams — state = per (window, user) counters,
    closed by the watermark — and the per-window top-k rank runs in
    ``foreachBatch`` over each batch's FINALIZED windows. Append mode
    guarantees a (window, user) row emits exactly once, and all rows of
    a window finalize on the same watermark advance, so every batch
    ranks complete windows only — the per-batch rank equals the batch
    plan's rank for those windows.

    Same idempotency contract as the other runners: each batch
    overwrites its own ``batch=N`` directory, so an at-least-once
    replay rewrites rather than duplicates.
    """
    agg = (
        _file_stream(spark, source_dir)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100.0).cast("bigint"))
            .cast("bigint")
            .alias("cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "user_id",
            "n_events",
            "cents",
        )
    )

    def top_k(batch_df: DataFrame) -> DataFrame:
        rank_w = Window.partitionBy("window_start").orderBy(
            F.col("cents").desc(), F.col("user_id").asc()
        )
        return batch_df.withColumn(
            "rank", F.row_number().over(rank_w).cast("bigint")
        ).filter(F.col("rank") <= k)

    _drain(agg, _overwrite_sink(sink_dir, top_k), checkpoint_dir, "append")
