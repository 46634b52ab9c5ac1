"""SparkSession construction and session-level tuning.

The reference pins all timestamps to timezone-aware UTC
(reference ``ARCHITECTURE_EVOLUTION.md:67-78``, ``etls/reddit_etl.py:66-70``);
we enforce that at the session level (``spark.sql.session.timeZone=UTC``)
so every timestamp operator is UTC-stable and DuckDB-oracle-comparable.

Scale posture (100 TB design point):
- AQE on (runtime join-strategy selection, partition coalescing, skew-join
  splitting) so plans tuned at sf0.1 survive a 1000-executor cluster.
- Arrow-batched Python<->JVM transfer for the few pandas-UDF operators.
- Shuffle partitions default to a local-friendly count; on a real cluster
  AQE's coalescing makes the initial number far less sensitive.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

# Confs that are runtime-settable: applied defensively to ANY session that
# enters the engine (the driver harness builds its own SparkSession, so we
# cannot rely on builder-time config alone).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Small dims (region/nation/supplier/part at test SFs) must broadcast;
    # 64 MB covers every dim table up to far beyond sf0.1.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # ANSI off: the engine reproduces the reference's cast-with-default
    # semantics via explicit coalesce/nullif, never via error-on-cast
    # (reference `etls/reddit_etl.py:74-76` treats falsy as missing).
    "spark.sql.ansi.enabled": "false",
    # size(NULL) must be NULL, not the legacy -1 sentinel: with ANSI
    # off Spark keeps legacy.sizeOfNull=true, and the -1 leaked into a
    # result column the first time a corpus carried a NULL document
    # text (round-13 nullity sweep, q17_array_funcs) — DuckDB/ANSI say
    # NULL. Nothing in the package relies on the sentinel (grepped).
    "spark.sql.legacy.sizeOfNull": "false",
    # Legacy-corpus compatibility: earlier driver fixtures stored
    # events.ts as ns-precision parquet, which the reader rejects
    # ([PARQUET_TYPE_ILLEGAL]) unless mapped to ns-since-epoch longs.
    # The current corpus stores plain timestamp[us] (the conf is then a
    # no-op); `tables.table()` branches on the observed dtype so both
    # corpus generations load identically.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # The streaming ingest-contract gate sums observe() metrics from
    # query.recentProgress, which Spark caps at this conf (default
    # 100) — with maxFilesPerTrigger=1 a >100-file source would evict
    # early batches' entries and silently pass their violations. Keep
    # the buffer far above any sane availableNow batch count;
    # raise_on_contract_violations additionally REFUSES to vouch when
    # the buffer is full (eviction can then not be ruled out). Each
    # retained entry is a small JSON blob — ~10 MB driver ceiling.
    "spark.sql.streaming.numRecentProgressUpdates": "10000",
}


# Confs the engine is CORRECT only with (vs. tuning confs, which merely
# make it fast): UTC pins timestamp rendering (R4 golden values), ANSI-off
# preserves cast-with-default semantics (R5-R9), nanosAsLong is required
# to read the LEGACY ns-precision events fixtures at all
# ([PARQUET_TYPE_ILLEGAL] otherwise; no-op on the current µs corpus).
CORRECTNESS_CONFS: frozenset[str] = frozenset(
    {
        "spark.sql.session.timeZone",
        "spark.sql.ansi.enabled",
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.legacy.sizeOfNull",
    }
)

_warned_confs: set[str] = set()


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an externally-built session.

    Idempotent and cheap; called by every registered query wrapper so that
    UTC timestamp semantics and AQE hold no matter who built the session.
    Tuning confs degrade silently when locked down; correctness-required
    confs warn (once per conf) so a later failure — e.g. an opaque
    PARQUET_TYPE_ILLEGAL on the events table — is traceable to its cause.
    """
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception as exc:
            if key in CORRECTNESS_CONFS and key not in _warned_confs:
                _warned_confs.add(key)
                warnings.warn(
                    f"correctness-required Spark conf {key}={value!r} could "
                    f"not be applied ({exc}); query results involving "
                    "timestamps, casts, or the events table may be wrong",
                    RuntimeWarning,
                    stacklevel=2,
                )
    return spark


def get_spark(
    app_name: str = "reddit_data_engineering_project_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a tuned local SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32
    threads is the harness shape; tests use ``local[*]``).

    The session keeps up to 2000 compiled whole-stage classes
    (``spark.sql.codegen.cache.maxEntries``). That is a static conf, so
    an externally built session, which this call then reuses, keeps
    Spark's default of 100.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus_env) if cpus_env and cpus_env.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # One warm ad-hoc cycle (11 queries, 3 curation steps) compiles
        # over 200 distinct classes; under the default 100-entry LRU every
        # cycle recompiled them all. Static conf: only the builder that
        # creates the session can set it, so ensure_session_confs cannot
        # apply it to an external session.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    return ensure_session_confs(spark)
