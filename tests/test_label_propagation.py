"""propagate_min_labels: connected components labelled by their min id.

The components are labelled on the driver by hook-and-jump; long chains
must still collapse to one label (a 64-hop chain would exhaust a
one-hop-per-round propagation's bound).
"""

from __future__ import annotations

import pytest
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

from reddit_data_engineering_project_spark.operators.dedup import (
    propagate_min_labels,
)


def _pairs(spark, edges, id_type="long"):
    return spark.createDataFrame(edges, f"doc_a {id_type}, doc_b {id_type}")


def _labels(df):
    return {r["doc"]: r["label"] for r in df.collect()}


def test_long_chain_converges_and_collapses(spark):
    # 0-1-2-...-64: diameter 64 > the 20-round bound of a one-hop-per-
    # round loop.
    chain = [(i, i + 1) for i in range(64)]
    labels = propagate_min_labels(_pairs(spark, chain))
    assert _labels(labels) == {i: 0 for i in range(65)}


def test_components_stay_separate(spark):
    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)]
    labels = propagate_min_labels(_pairs(spark, edges))
    assert _labels(labels) == {
        1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20
    }


def test_star_and_reversed_pairs(spark):
    # hub listed as doc_b half the time: symmetry must not matter
    edges = [(5, 100), (101, 5), (5, 102), (103, 5)]
    labels = propagate_min_labels(_pairs(spark, edges))
    assert _labels(labels) == {5: 5, 100: 5, 101: 5, 102: 5, 103: 5}


def test_label_always_component_min_not_self(spark):
    # direction quirks: min must win regardless of id order
    edges = [(50, 7), (7, 9), (9, 3), (3, 40)]
    labels = propagate_min_labels(_pairs(spark, edges))
    assert {r["label"] for r in labels.collect()} == {3}


@pytest.mark.parametrize("id_type", ["long", "int"])
def test_empty_pairs_keep_columns_and_id_type(spark, id_type):
    sql_type = id_type.replace("long", "bigint")
    labels = propagate_min_labels(_pairs(spark, [], id_type))
    assert labels.collect() == []
    assert [(f.name, f.dataType.simpleString()) for f in labels.schema] == [
        ("doc", sql_type),
        ("label", sql_type),
    ]


def test_components_run_at_most_two_jobs(spark):
    # a distributed min-label loop pays a seed sum plus one job per
    # round (10+ jobs here); the driver pass pays only the collect
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10)]
    pairs = _pairs(spark, edges).persist()
    pairs.count()
    sc = spark.sparkContext
    sc.setJobGroup("label-jobs", "propagate_min_labels job count")
    try:
        propagate_min_labels(pairs).collect()
        jobs = sc.statusTracker().getJobIdsForGroup("label-jobs")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        pairs.unpersist()
    assert len(jobs) <= 2, jobs


def test_failed_pairs_leave_no_cached_relation(spark):
    # a long-lived session must not keep a cached relation after an
    # evaluation of the pairs raises
    spark.catalog.clearCache()
    pairs = spark.range(0, 8, 1, 1).select(
        F.col("id").alias("doc_a"),
        F.when(F.col("id") < 4, F.col("id") + 1)
        .otherwise(F.raise_error(F.lit("bad pair")).cast("long"))
        .alias("doc_b"),
    )
    with pytest.raises(SparkRuntimeException):
        propagate_min_labels(pairs)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
