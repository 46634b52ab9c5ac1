"""Sink operators (SURVEY §2.2 Q18 / reference R10, R13, R15).

The reference's sink is a header CSV per daily run, temp-file-then-upload
for atomicity (reference ``etls/reddit_etl.py:109-128``). Spark's task
commit protocol already provides the atomic-rename dance, so the engine's
sinks are plain ``df.write`` calls:

- :func:`write_csv_header` — R10 parity (header, UTF-8).
- :func:`write_partitioned_parquet` — the production form: parquet +
  ``partitionBy(ds)``, the Hive-style rendering of the reference's
  ``reddit_{ds_nodash}`` filename convention (``dags/reddit_dag.py:37``).
- ``q18_sink_roundtrip`` — registered, oracle-checked: write the daily
  partitions, read them back, aggregate — proving schema + values
  survive the sink/source cycle (partition-column type round-trip
  included).

Scale notes: a date-partitioned write is the contract that makes
everything else cheap — partition pruning on read, dynamic-overwrite
upserts (``operators/upsert.py``), per-day backfills. File counts per
partition follow the shuffle partitioning, so writers repartition by the
partition key first (one file per partition per writer wave, not
partitions × tasks tiny files).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.numeric import dround, dround_sql
from ..registry import register
from ..tables import table


_SCRATCH_DIRS: set[str] = set()


def _scratch_dir(tag: str) -> str:
    """This process's scratch directory for a write-then-read entry,
    removed when the process exits. The entries return frames that read
    it lazily, so it cannot go any earlier; per-process, so concurrent
    runs never overwrite each other mid-read."""
    path = os.path.join(
        tempfile.gettempdir(),
        f"reddit_data_engineering_project_spark_{tag}_{os.getpid()}",
    )
    if path not in _SCRATCH_DIRS:
        _SCRATCH_DIRS.add(path)
        atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def write_csv_header(df: DataFrame, path: str) -> None:
    """R10-parity CSV sink: header row, UTF-8, overwrite."""
    (
        df.write.mode("overwrite")
        .option("header", True)
        .option("encoding", "UTF-8")
        .csv(path)
    )


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_col: str = "ds"
) -> None:
    """Date-partitioned parquet sink with writer-side file consolidation.

    ``repartition(partition_col)`` co-locates each partition's rows
    before the write so each day directory gets a bounded file count —
    without it, every task writes a sliver of every day (tasks × days
    small files, the classic lake pathology).
    """
    (
        df.repartition(F.col(partition_col))
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(path)
    )


def compact_partition(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int = 1_000_000,
) -> int:
    """Rewrite a partition directory into right-sized files; return file count.

    The maintenance half of the sink contract: streaming micro-batches
    and per-day re-runs accrete small files, and at 100 TB scan cost is
    dominated by file-open overhead long before bytes. Compaction reads
    the directory once, coalesces to ``ceil(rows / target)`` files
    (``coalesce``, not ``repartition`` — narrowing needs no shuffle), and
    replaces the directory via write-to-temp + two renames. A reader
    never sees a MIX of old and new files, but the swap is two metadata
    ops, not one atomic exchange: a reader listing the path in that
    window must retry, and a crash inside it leaves the data intact
    under ``__old`` — which the next invocation rolls back before
    compacting (plain filesystems have no two-directory atomic swap; a
    table format's metadata commit is the 100 TB answer). Run
    per-partition (one day at a time): each compaction touches one day's
    bytes, never the table.
    """
    import math

    tmp = path.rstrip("/") + "__compacting"
    old = path.rstrip("/") + "__old"
    # Crash recovery: a leftover __old means a previous swap died midway.
    # If the live path vanished with it, roll the old data back; either
    # way clear the stale dirs so the renames below cannot collide.
    if os.path.exists(old):
        if not os.path.exists(path):
            os.rename(old, path)
        else:
            shutil.rmtree(old)
    if os.path.exists(tmp):
        shutil.rmtree(tmp)

    df = spark.read.parquet(path)
    n_rows = df.count()
    n_files = max(1, math.ceil(n_rows / target_rows_per_file))
    df.coalesce(n_files).write.mode("overwrite").parquet(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return n_files


@register(
    "q18_sink_roundtrip",
    oracle="""
    SELECT
        CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS ds,
        count(*) AS n_rows,
        round(sum(coalesce(value, 0.0)) * 100.0) / 100.0 AS total_value,
        count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1
    """,
    tags=("sinks", "Q18", "R10", "R13"),
)
def q18_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18: partitioned write → read-back → aggregate, oracle vs source.

    The returned values are computed FROM THE FILES WRITTEN, while the
    oracle reads the original table — any corruption, loss, or type
    drift through the sink/source cycle breaks the hash. The partition
    column round-trips through Hive-style directory encoding
    (``ds=2024-01-01``) and is restored as DATE by partition inference.
    """
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        "user_id",
        F.coalesce(F.col("value"), F.lit(0.0)).alias("value"),
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("ds"),
    )
    out = _scratch_dir("sink_roundtrip")
    write_partitioned_parquet(ev, out, "ds")
    # Read back with the WRITER's schema, not inference: a zero-row
    # partitioned write leaves no parquet footers (only _SUCCESS), so
    # inference raises UNABLE_TO_INFER_SCHEMA — the no-data-day crash
    # the r12 degenerate-cardinality sweep caught. Pinning schema-on-
    # read is also the 100 TB practice: the lake contract, not the
    # files, defines the types (partition values still parse from the
    # Hive-style dirs per the declared ds DATE).
    back = spark.read.schema(ev.schema).parquet(out)
    return back.groupBy("ds").agg(
        F.count("*").alias("n_rows"),
        dround(F.sum("value")).alias("total_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


def read_evolving_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet directory whose files span schema versions.

    The additive-evolution contract a long-lived lake needs: files
    written before a column existed coexist with files that carry it.
    ``mergeSchema`` unions every footer's schema (an O(|files|) metadata
    operation at planning time — at 100 TB pin the canonical schema in a
    catalog instead and pass it explicitly; the read semantics below are
    identical) and back-fills the missing columns with NULL, so readers
    see one stable wide schema regardless of file vintage.
    ``tests/test_schema_evolution.py`` pins the union, the NULL
    back-fill, and that predicate pushdown on common columns still
    reaches every file.
    """
    return spark.read.option("mergeSchema", True).parquet(path)


def publish_snapshot(df: DataFrame, root: str) -> str:
    """Write a new immutable snapshot and atomically publish it.

    The poor-man's table-format commit (the metadata idea behind
    Delta/Iceberg, reduced to its kernel): data files are written to a
    fresh versioned directory, then a single pointer file
    (``root/_CURRENT``) is atomically replaced to reference it. Readers
    resolve the pointer first, so they always see a COMPLETE snapshot —
    never a partially-written directory, never a mix of old and new
    files during compaction or re-publish. Old snapshots stay readable
    until vacuumed, which is what makes concurrent long-running readers
    safe.

    At 100 TB the pointer swap is the same one-filesystem-op commit; a
    real deployment adds a transaction log for multi-writer ordering,
    but single-writer-many-reader (the ingest-pipeline shape) needs
    exactly this.

    Returns the published snapshot directory.

    The pointer stores the snapshot's BASENAME, not a path: a relative
    ``root`` spelled differently (or a different CWD) between publish
    and read/vacuum must never re-resolve to a different directory —
    with an absolute stored path, a later vacuum under another CWD could
    mis-identify the live snapshot and delete it.
    """
    import uuid

    name = f"snap-{uuid.uuid4().hex[:12]}"
    snap = os.path.join(root, name)
    df.write.mode("errorifexists").parquet(snap)
    pointer = os.path.join(root, "_CURRENT")
    fd, tmp = tempfile.mkstemp(dir=root, prefix="_CURRENT.")
    try:
        with os.fdopen(fd, "w") as fh:
            fh.write(name)
        os.replace(tmp, pointer)  # atomic on POSIX
    finally:
        if os.path.exists(tmp):  # crash-path hygiene; no-op after replace
            os.unlink(tmp)
    return snap


def read_snapshot(spark: SparkSession, root: str) -> DataFrame:
    """Read the currently-published snapshot (see :func:`publish_snapshot`)."""
    with open(os.path.join(root, "_CURRENT")) as fh:
        name = os.path.basename(fh.read().strip())
    return spark.read.parquet(os.path.join(root, name))


def vacuum_snapshots(root: str) -> list[str]:
    """Delete snapshot directories no longer referenced by ``_CURRENT``.

    The retention half of :func:`publish_snapshot`: once no long-running
    reader can still hold an old pointer (a deployment enforces this
    with a grace period; here it is the caller's contract), unreferenced
    ``snap-*`` directories are reclaimable. Never touches the referenced
    snapshot or the pointer itself. Returns the deleted paths.
    """
    with open(os.path.join(root, "_CURRENT")) as fh:
        current = os.path.basename(fh.read().strip())
    deleted = []
    for name in os.listdir(root):
        path = os.path.join(root, name)
        # Basename comparison (see publish_snapshot): immune to CWD and
        # root-spelling differences between publish and vacuum.
        if name.startswith("snap-") and os.path.isdir(path) and name != current:
            shutil.rmtree(path)
            deleted.append(path)
        # Reclaim pointer-write temp files orphaned by a crash between
        # mkstemp and os.replace.
        elif name.startswith("_CURRENT.") and os.path.isfile(path):
            os.unlink(path)
            deleted.append(path)
    return deleted


@register(
    "q18_snapshot_publish_read",
    oracle=f"""
    SELECT
        o_orderpriority,
        count(*) AS n_rows,
        CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
        {dround_sql(
            "sum(CAST(round(o_totalprice * 10000.0) AS BIGINT)) / 10000.0"
        )} AS total_price
    FROM orders
    GROUP BY 1
    """,
    tags=("sinks", "Q18", "R13"),
)
def q18_snapshot_publish_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18: snapshot publish → re-publish → vacuum → pointer read-back.

    End-to-end audit of the atomic-snapshot commit protocol
    (:func:`publish_snapshot`): a STALE snapshot (half the orders) is
    published first, then the full table is published over it, then
    ``vacuum_snapshots`` reclaims the stale directory. The returned
    aggregate is computed FROM the pointer-resolved read-back, while
    the oracle reads the original table — a reader that resolved the
    old pointer, a torn publish, or a vacuum that deleted the live
    snapshot all break the hash (the stale snapshot's row counts are
    roughly half, so any mix-up is loudly visible).

    Scale shape: the commit is one pointer ``os.replace`` regardless of
    data volume; both snapshot writes are plain partitioned parquet
    writes and the read-back aggregation is the standard partial-agg
    shuffle on ``o_orderpriority``.

    The price total sums e4-quantized BIGINTs, not doubles (the
    ``q13_running_frames`` discipline): the read-back sums its rows in
    another order than the oracle, and over exact half-cent prices a
    double sum's last ulp decides which way ``dround`` rounds. Every
    price fits e4 exactly, so the integer sum is order-free.
    """
    od = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
    )
    root = _scratch_dir("snapshots")
    if os.path.exists(root):
        shutil.rmtree(root)
    os.makedirs(root)
    publish_snapshot(od.filter(F.col("o_orderkey") % 2 == 0), root)
    publish_snapshot(od, root)
    vacuum_snapshots(root)
    back = read_snapshot(spark, root)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("o_custkey").cast("bigint").alias("n_custs"),
        dround(
            F.sum(F.round(F.col("o_totalprice") * 10000.0).cast("bigint"))
            / 10000.0
        ).alias("total_price"),
    )


@register(
    "q18_schema_evolution_read",
    oracle="""
    WITH unioned AS (
        SELECT o_orderkey, o_orderpriority, NULL AS o_totalprice
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderkey, o_orderpriority, o_totalprice
        FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT
        o_orderpriority,
        count(*) AS n_rows,
        CAST(count(*) FILTER (WHERE o_totalprice IS NULL) AS BIGINT)
            AS n_legacy_rows,
        round(sum(o_totalprice) * 100.0) / 100.0 AS known_price
    FROM unioned
    GROUP BY 1
    """,
    tags=("sinks", "Q18", "R13"),
)
def q18_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18: additive schema evolution — mixed-vintage files, one reader.

    Files written BEFORE ``o_totalprice`` existed (the even-key half,
    projected without the column) coexist in one directory with files
    that carry it (the odd-key half). :func:`read_evolving_parquet`
    unions the footers and back-fills the legacy files' missing column
    with NULL; the aggregate proves both halves surface (``n_rows``),
    that exactly the legacy rows are NULL-filled (``n_legacy_rows``),
    and that the carried values survive intact (``known_price``). The
    oracle reproduces the vintage split with a CASE-free projection
    union over the original table.

    Scale shape: ``mergeSchema`` is O(|files|) footer metadata at
    planning time (at 100 TB pin the canonical schema in a catalog —
    semantics identical, documented at :func:`read_evolving_parquet`);
    the data-path read stays a plain pruned parquet scan per file.
    """
    od = table(spark, sf_dir, "orders")
    out = _scratch_dir("evolution")
    if os.path.exists(out):
        shutil.rmtree(out)
    legacy = od.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderpriority"
    )
    modern = od.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    legacy.write.parquet(os.path.join(out, "vintage=v1"))
    modern.write.parquet(os.path.join(out, "vintage=v2"))
    back = read_evolving_parquet(spark, out).drop("vintage")
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_rows"),
        F.count(F.when(F.col("o_totalprice").isNull(), 1))
        .cast("bigint")
        .alias("n_legacy_rows"),
        dround(F.sum("o_totalprice")).alias("known_price"),
    )


#: The pruned day for q18_partitioned_prune — mid-corpus, guaranteed by
#: the fixture generator's fixed 2024-01 window (test pins non-empty).
_PRUNE_DAY = "2024-01-15"


@register(
    "q18_partitioned_prune",
    oracle=f"""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           round(sum(coalesce(value, 0.0)) * 100.0) / 100.0
               AS total_value
    FROM events
    WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '{_PRUNE_DAY} 00:00:00'
      AND CAST(ts AS TIMESTAMP) <  TIMESTAMP '{_PRUNE_DAY} 00:00:00'
                                   + INTERVAL 1 DAY
    GROUP BY 1
    """,
    tags=("sinks", "Q18", "partition-pruning"),
)
def q18_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18: partition-PRUNED read over the date-partitioned lake layout —
    the payoff side of ``write_partitioned_parquet`` (the write side is
    ``q18_sink_roundtrip``; this op proves the layout buys reads).

    Events are written Hive-partitioned by ``ds``; the read filters on
    one day and the planner must resolve that to directory-listing
    metadata — the scan's ``PartitionFilters`` carries the ``ds``
    equality and only 1 of ~30 day directories is opened (plan-pinned in
    ``tests/test_plans.py``; a regression here silently turns every
    daily query into a full-lake scan). The oracle reads the ORIGINAL
    table with the equivalent timestamp-range predicate, so the
    partition round-trip (timestamp → DATE dir key → pruned read) must
    also preserve values exactly.

    Scale shape: at 100 TB with ~3 000 day partitions, pruning is the
    difference between a 30 GB scan and a 100 TB scan — it happens at
    PLANNING time (file-index listing), zero tasks touch excluded
    days. The same mechanism powers the engine's backfills and
    dynamic-overwrite upserts.
    """
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        F.coalesce(F.col("value"), F.lit(0.0)).alias("value"),
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("ds"),
    )
    out = _scratch_dir("part_prune")
    write_partitioned_parquet(ev, out, "ds")
    # Explicit schema-on-read (see q18_sink_roundtrip): a zero-row
    # write has no footers to infer from, and the declared schema is
    # the lake contract anyway. Partition pruning is unaffected — the
    # ds equality still resolves at planning time against the
    # directory index.
    back = spark.read.schema(ev.schema).parquet(out).filter(
        F.col("ds") == F.lit(_PRUNE_DAY).cast("date")
    )
    return back.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        dround(F.sum("value")).alias("total_value"),
    )
