"""Round-17 optimization pins.

Every optimization that changed an operator's INTERNALS gets a focused
equivalence or plan-contract test here:

- the Arrow byte census (``x05_byte_histogram``) vs a relational
  recomputation, over hostile payload shapes (empty/NULL/unicode/astral);
- the Arrow char census (``x04_char_entropy``) vs exploded substr counts;
- the vectorized pair census (``_pair_census_partials``) vs the
  substr-window reference, including tokens that contain the NUL char
  (the helper must not depend on any separator sentinel);
- the codegen basket-pair enumeration vs the retired HOF comprehension;
- plan contracts for the r17 cache/broadcast fixes (no corpus-side
  SortMergeJoin in _verify_jaccard; the simhash bucket relation cached).
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from conftest import SF_DIR, plan_of


def _rows(df):
    return sorted(map(tuple, df.collect()))


# ---------------------------------------------------------------- byte census


def test_byte_census_matches_relational_reference(spark):
    from reddit_data_engineering_project_spark.operators.multimodal import (
        _byte_census_partials,
    )

    docs = spark.createDataFrame(
        [
            (1, "hello"),
            (2, ""),            # empty payload: contributes nothing
            (3, None),          # NULL payload: contributes nothing
            (4, "héllo ÿ"),  # multi-byte UTF-8
            (5, "\U0001F600"),  # astral: 4-byte UTF-8 sequence
            (6, "AAAA"),
        ],
        "doc_id long, text string",
    )
    payloads = docs.select(F.encode(F.col("text"), "UTF-8").alias("payload"))
    got = (
        payloads.mapInPandas(_byte_census_partials, schema="byte string, pn long")
        .groupBy("byte")
        .agg(F.sum("pn").alias("n"))
    )
    # Relational reference: the retired per-byte explode over hex pairs.
    hx = docs.select(F.hex(F.encode(F.col("text"), "UTF-8")).alias("h"))
    nb = (F.length("h") / F.lit(2)).cast("int")
    ref = (
        hx.select(
            F.explode(
                F.when(
                    nb > 0,
                    F.transform(
                        F.sequence(F.lit(1), nb),
                        lambda i: F.col("h").substr(i * 2 - 1, F.lit(2)),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("byte")
        )
        .groupBy("byte")
        .agg(F.count("*").alias("n"))
    )
    assert _rows(got) == _rows(ref)


# ---------------------------------------------------------------- char census


def test_char_census_matches_exploded_reference(spark):
    from reddit_data_engineering_project_spark.operators.curation import (
        _char_census_rows,
    )

    docs = spark.createDataFrame(
        [
            (1, "abcabc"),
            (2, ""),           # empty: no rows on either side
            (3, None),         # NULL: no rows on either side
            (4, "ααβ \U0001F600\U0001F600"),  # greek + astral repeats
            (5, "x" * 300),    # long run: single class, count 300
        ],
        "doc_id long, text string",
    )
    got = (
        docs.mapInPandas(_char_census_rows, schema="doc_id long, n_c long")
        .groupBy("doc_id")
        .agg(
            F.sum("n_c").alias("n_chars"),
            F.count("*").alias("n_classes"),
            F.max("n_c").alias("max_c"),
        )
    )
    ref = (
        docs.filter(F.length("text") >= 1)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("text")),
                    lambda i: F.col("text").substr(i, F.lit(1)),
                )
            ).alias("c"),
        )
        .groupBy("doc_id", "c")
        .agg(F.count("*").alias("n_c"))
        .groupBy("doc_id")
        .agg(
            F.sum("n_c").alias("n_chars"),
            F.count("*").alias("n_classes"),
            F.max("n_c").alias("max_c"),
        )
    )
    assert _rows(got) == _rows(ref)


# ---------------------------------------------------------------- pair census


def test_pair_census_matches_substr_reference(spark):
    from reddit_data_engineering_project_spark.operators.curation import (
        _pair_census_partials,
    )

    toks = spark.createDataFrame(
        [
            ("abca",),
            ("ab",),
            ("a",),            # len-1: no pairs (helper must drop it)
            ("a\x00b",),       # NUL inside a token: pairs a\x00, \x00b
            ("\U0001F600\U0001F600x",),  # astral pairs
            ("aa",),
            ("abca",),         # duplicate token: counts accumulate
        ],
        "t string",
    )
    got = (
        toks.mapInPandas(_pair_census_partials, schema="pair string, pn long")
        .groupBy("pair")
        .agg(F.sum("pn").alias("n"))
    )
    ref = (
        toks.filter(F.length("t") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("t") - 1),
                    lambda i: F.col("t").substr(i, F.lit(2)),
                )
            ).alias("pair")
        )
        .groupBy("pair")
        .agg(F.count("*").alias("n"))
    )
    assert _rows(got) == _rows(ref)


def test_pair_census_merged_pair_passthrough(spark):
    from reddit_data_engineering_project_spark.operators.curation import (
        _pair_census_partials,
    )

    toks = spark.createDataFrame(
        [("abc", "ab"), ("bcd", "ab")], "t string, merged_pair string"
    )
    got = (
        toks.mapInPandas(
            _pair_census_partials,
            schema="merged_pair string, pair string, pn long",
        )
        .groupBy("merged_pair", "pair")
        .agg(F.sum("pn").alias("n"))
    )
    rows = _rows(got)
    assert rows == [
        ("ab", "ab", 1),
        ("ab", "bc", 2),
        ("ab", "cd", 1),
    ]


# ------------------------------------------------------- basket enumeration


def test_basket_pair_enumeration_matches_hof_comprehension(spark):
    """The posexplode+slice pair generator emits exactly the multiset the
    retired transform/flatten comprehension emitted (q21 family base)."""
    baskets = spark.createDataFrame(
        [(1, [1, 2, 3]), (2, [5]), (3, []), (4, [7, 7, 8, 9])],
        "l_orderkey long, parts array<bigint>",
    )
    new = baskets.select(
        F.col("parts"), F.posexplode(F.col("parts")).alias("i", "src")
    ).select(
        "src",
        F.explode(
            F.slice(
                F.col("parts"),
                F.col("i") + 2,
                F.greatest(F.size("parts") - F.col("i") - 1, F.lit(0)),
            )
        ).alias("dst"),
    )
    idx = F.sequence(F.lit(0), F.size("parts") - 1)
    old = baskets.select(
        F.explode(
            F.flatten(
                F.transform(
                    idx,
                    lambda i: F.transform(
                        F.slice(
                            F.col("parts"),
                            i + 2,
                            F.greatest(F.size("parts") - i - 1, F.lit(0)),
                        ),
                        lambda pb: F.struct(
                            F.col("parts")[i].alias("src"), pb.alias("dst")
                        ),
                    ),
                )
            )
        ).alias("pr")
    ).select("pr.src", "pr.dst")
    assert _rows(new) == _rows(old)


# ------------------------------------------------------------ plan contracts


def test_verify_jaccard_corpus_semi_join_is_broadcast(spark):
    """The candidate-id semi-join must not shuffle/sort the corpus: the
    r17 broadcast fix pins SortMergeJoin out of the whole simhash plan."""
    from reddit_data_engineering_project_spark.registry import (
        QUERIES,
        load_all_operators,
    )

    load_all_operators()
    try:
        plan = plan_of(spark, QUERIES["x02_simhash_neardup"](spark, SF_DIR))
    finally:
        spark.catalog.clearCache()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin LeftSemi" in plan


def test_simhash_buckets_cached_once(spark):
    """The shared bucket relation is cached: without it the signature
    aggregate executes twice (broadcast build + stream side), measured
    5.0 s -> 1.4 s at sf0.1 for candidate generation."""
    from reddit_data_engineering_project_spark.operators.dedup import (
        _simhash_candidates,
        shingles,
    )
    from reddit_data_engineering_project_spark.tables import table

    try:
        plan = plan_of(
            spark,
            _simhash_candidates(shingles(table(spark, SF_DIR, "documents")), 8, 1),
        )
    finally:
        spark.catalog.clearCache()
    assert "InMemoryRelation" in plan
