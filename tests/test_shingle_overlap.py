"""The shingle-overlap near-dup family against its DuckDB oracles.

Nine registered entries build on the one sparse inverted-index overlap
kernel (``dedup._shingle_overlap``) and their oracles on its one SQL
twin (``dedup._OVERLAP_SQL``); ``pipeline_dedup_report`` composes one of
them. Each must match its oracle on rows, columns and the
order-insensitive value hash of ``tools/check_oracle.py`` — on the
sf0.01 corpus, where the planted near-dup pairs exist.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.errors import SparkRuntimeException

from reddit_data_engineering_project_spark import registry
from reddit_data_engineering_project_spark.operators.dedup import (
    _simhash_signatures_over,
    shingles,
)

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
)
from check_oracle import _check_entry, _oracle_db  # noqa: E402

registry.load_all_operators()

SF01 = "/root/testdata/sf0.01"

OVERLAP_ENTRIES = (
    "x02_neardup_jaccard",
    "x02_simhash_neardup",
    "x02_simhash16_neardup",
    "x02_minhash_lsh_neardup",
    "x02_dedup_clusters",
    "x02_incremental_neardup",
    "pipeline_split_leakage_audit",
    "x02_dedup_keep_best",
    "x02_containment_pairs",
    "pipeline_dedup_report",
)


@pytest.fixture(scope="module")
def duck():
    con = _oracle_db(SF01)
    yield con
    con.close()


@pytest.mark.parametrize("name", OVERLAP_ENTRIES)
def test_overlap_entry_matches_oracle(spark, duck, name):
    try:
        n_rows, problems = _check_entry(spark, duck, name, SF01)
    finally:
        spark.catalog.clearCache()
    assert n_rows, f"{name}: empty result proves nothing on sf0.01"
    assert not problems, f"{name}: {'; '.join(problems)}"


def test_simhash_lane_overflow_rejects_document(spark):
    """A document with 2^16 distinct shingles would carry one packed
    16-bit vote lane into the next: it must be rejected, and the
    message must name the limit."""
    # 65,539 distinct tokens -> 65,536 distinct 4-word shingles
    text = " ".join(f"w{i}" for i in range(65_539))
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    with pytest.raises(SparkRuntimeException, match="at most 65535"):
        _simhash_signatures_over(shingles(docs)).collect()
