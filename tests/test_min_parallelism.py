"""ensure_min_parallelism contract: widen a too-narrow scan, and — the
scale-path guarantee — change NOTHING when the input is already parallel."""

from __future__ import annotations

from reddit_data_engineering_project_spark.tables import (
    ensure_min_parallelism,
    table,
)

from conftest import SF_DIR


def test_narrow_scan_is_widened_to_byte_bounded_target(spark):
    from reddit_data_engineering_project_spark import tables as T

    docs = table(spark, SF_DIR, "documents")
    assert docs.rdd.getNumPartitions() == 1  # single-row-group parquet
    size = int(
        str(docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    )
    expect = max(
        1,
        min(
            spark.sparkContext.defaultParallelism,
            -(-size // T._MIN_BYTES_PER_TASK),
        ),
    )
    widened = ensure_min_parallelism(docs)
    got = widened.rdd.getNumPartitions()
    # r18 contract: fan-out is byte-bounded — a kilobyte corpus must NOT
    # spin one Python worker per core.
    assert got == expect or (expect == 1 and got == 1)


def test_large_estimate_saturates_to_full_parallelism(spark, monkeypatch):
    from reddit_data_engineering_project_spark import tables as T

    # With a 1-byte floor every input saturates the byte bound — the
    # 100 TB path, where the behavior must be exactly the old full
    # widening.
    monkeypatch.setattr(T, "_MIN_BYTES_PER_TASK", 1)
    docs = table(spark, SF_DIR, "documents")
    widened = T.ensure_min_parallelism(docs)
    assert (
        widened.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )


def test_already_parallel_input_is_untouched(spark):
    target = spark.sparkContext.defaultParallelism
    wide = table(spark, SF_DIR, "events").repartition(target + 2)
    out = ensure_min_parallelism(wide)
    # Same object, same plan: no repartition node was appended.
    assert out is wide


def test_post_filter_multi_partition_input_is_never_narrowed(
    spark, tmp_path, monkeypatch
):
    """A filtered scan over several files keeps at least its own fan-out
    whatever its plan-time size estimate says: a low estimate leaves it
    as it is (no exchange that would coalesce it), and an estimate over
    the byte floor widens it to the full default parallelism."""
    from pyspark.sql import functions as F

    from reddit_data_engineering_project_spark import tables as T

    target = spark.sparkContext.defaultParallelism
    n_files = max(2, target - 1)
    src = table(spark, SF_DIR, "documents")
    for i in range(n_files):
        src.filter(F.col("doc_id") % n_files == i).coalesce(1).write.parquet(
            str(tmp_path / f"f{i}")
        )
    scan = spark.read.parquet(*(str(tmp_path / f"f{i}") for i in range(n_files)))
    df = scan.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    n_in = df.rdd.getNumPartitions()
    assert 1 < n_in < target  # several files, still narrower than the cluster
    size = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    assert -(-size // T._MIN_BYTES_PER_TASK) < n_in  # the low-estimate case

    out = ensure_min_parallelism(df)
    assert out is df
    assert out.rdd.getNumPartitions() == n_in

    monkeypatch.setattr(T, "_MIN_BYTES_PER_TASK", 1)
    assert ensure_min_parallelism(df).rdd.getNumPartitions() == target
