"""The engine's entry surface: the flagship query and the registry.

``entry(spark)`` runs the flagship query; ``queries()`` and
``oracle_sql()`` return every registered query and its DuckDB oracle.
``tests/test_oracle_contract.py`` smoke-tests ``entry`` and compares
every query with its oracle (row count + column names +
order-insensitive value hash).

All operators live in ``reddit_data_engineering_project_spark``; this module
only adapts the registry to this interface.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from reddit_data_engineering_project_spark import registry
from reddit_data_engineering_project_spark.session import ensure_session_confs

registry.load_all_operators()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on the sf0.001 test corpus; returns at least one row.

    The reference's whole data path as one DataFrame chain (SURVEY §7
    step 1): clean/coerce per transform_post semantics, then top-k by
    value within a trailing time window (the `subreddit.top()` pattern,
    reference etls/reddit_etl.py:49).
    """
    ensure_session_confs(spark)
    return registry.QUERIES["pipeline_topk_window"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in
    registration order."""
    return dict(registry.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query, in registration
    order."""
    return dict(registry.ORACLES)
