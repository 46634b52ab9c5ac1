"""Round-10 operator pins: 16-bit-band SimHash (candidate-count
reduction at equal recall guarantee) and the S9 timeout-closure replay
(gap ∪ timeout partitions the full sessionization)."""

from __future__ import annotations

from itertools import combinations
from random import Random

import pytest
from pyspark.sql import functions as F

from reddit_data_engineering_project_spark import registry
from reddit_data_engineering_project_spark.operators.dedup import (
    _probe_masks,
    _simhash_candidates,
    _verify_jaccard,
    shingles,
)

registry.load_all_operators()

from conftest import SF_DIR  # noqa: E402


def test_probe_radius_split_captures_full_ball():
    """The two-sided probe split (⌈r/2⌉ vs ⌊r/2⌋) captures EXACTLY the
    one-sided radius-r ball: for any 16-bit diff of weight ≤ 3 there
    exist ma ∈ ball(2), mb ∈ ball(1) with ma ^ mb = diff — and for
    weight > 3 there are none (the split never widens the ball)."""
    ball2 = set(_probe_masks(16, 2))
    ball1 = set(_probe_masks(16, 1))

    def caught(diff: int) -> bool:
        return any((diff ^ mb) in ball2 for mb in ball1)

    # exhaustive over weights 0..4 on 16 bits
    for w in range(5):
        for bits in combinations(range(16), w):
            diff = sum(1 << b for b in bits)
            assert caught(diff) == (w <= 3), (diff, w)


def _skewed_corpus(spark, n_docs: int = 240):
    """Template-skewed corpus: every doc shares a 24-word template with
    10 seeded substitutions — signatures cluster around the template's
    sign pattern, so 8-bit (256-value) band buckets collide heavily on
    pairs that are NOT near-dups. This is the degenerate regime
    SCALE.md names for the 8-bit form at large corpus sizes, shrunk to
    test scale."""
    rng = Random(7)
    template = [f"w{i}" for i in range(24)]
    pool = [f"sub{i}" for i in range(40)]
    rows = []
    for d in range(n_docs):
        words = list(template)
        for pos in rng.sample(range(24), 10):
            words[pos] = rng.choice(pool)
        rows.append((d, " ".join(words)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_simhash16_cuts_candidates_at_equal_recall(spark):
    """The 16-bit-band form must surface a much smaller raw banding
    collision stream than the 8-bit form on a skewed corpus (the whole
    point of the wider bands — the popcount pre-filter kills junk in
    both, but only AFTER the join paid for it), while the VERIFIED
    outputs stay identical (equal d ≤ 15 capture guarantee ⇒ equal
    recall)."""
    docs = _skewed_corpus(spark)
    # raw collision stream = join output before the popcount pre-filter
    n8 = _simhash_candidates(shingles(docs), 8, 1, max_hamming=None).count()
    n16 = _simhash_candidates(shingles(docs), 16, 3, max_hamming=None).count()
    # observed ~5.8x on this corpus; pin a conservative 3x
    assert n16 < n8 / 3, (n8, n16)

    v8 = {
        tuple(r)
        for r in _verify_jaccard(
            docs, _simhash_candidates(shingles(docs), 8, 1)
        ).collect()
    }
    v16 = {
        tuple(r)
        for r in _verify_jaccard(
            docs, _simhash_candidates(shingles(docs), 16, 3)
        ).collect()
    }
    assert v8 == v16
    spark.catalog.clearCache()


def test_s09_gap_and_timeout_partition_full_sessionization(spark):
    """The two S9 replay entries are complementary: over the sampled
    users, gap-closed ∪ timeout-closed = every session exactly once,
    and timeout-closed = exactly one (the last) per user."""
    gap = registry.QUERIES["s09_session_gap_replay"](spark, SF_DIR)
    to = registry.QUERIES["s09_session_timeout_replay"](spark, SF_DIR)
    g = gap.select("user_id", "session_start", "session_end", "n_events")
    t = to.select("user_id", "session_start", "session_end", "n_events")
    assert g.intersect(t).count() == 0  # disjoint
    assert to.groupBy("user_id").count().filter("count != 1").count() == 0
    # each user's timeout session starts after (or at) every gap-closed
    # session of the same user ends
    late = (
        g.alias("g")
        .join(t.alias("t"), F.col("g.user_id").eqNullSafe(F.col("t.user_id")))
        .filter(F.col("t.session_start") < F.col("g.session_end"))
    )
    assert late.count() == 0
    # every sampled user with >= 1 event has exactly one timeout session
    both = gap.select("user_id").union(to.select("user_id")).distinct()
    assert both.count() == to.count()


@pytest.mark.parametrize(
    "name",
    ["x02_simhash16_neardup", "s09_session_timeout_replay"],
)
def test_round10_entries_registered_with_oracle(name):
    assert name in registry.QUERIES and name in registry.ORACLES


def test_s09_timeout_twin_and_null_user_on_crafted_corpus(spark, tmp_path):
    """Cross-engine pin for the two cases no driver corpus exhibits:
    a NULL user_id group (one grouping key on both engines; kept by
    the sample predicate's IS NULL arm) and the timeout twin's
    complement semantics. NULL user: two sessions (the first
    gap-closes, the last only timeout-closes); sampled user 10: a
    single open session (timeout-only); unsampled user 2: excluded on
    BOTH engines despite a would-be gap split."""
    import duckdb
    import pandas as pd
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    rows = [
        (1, "2024-01-01 00:00:00", None),
        (2, "2024-01-01 02:00:00", None),
        (3, "2024-01-01 00:30:00", 10),
        (4, "2024-01-01 00:00:00", 2),
        (5, "2024-01-01 03:00:00", 2),
    ]
    df = spark.createDataFrame(
        [
            Row(
                event_id=r[0],
                ts=r[1],
                user_id=r[2],
                event_type="view",
                value=1.0,
                props="{}",
            )
            for r in rows
        ],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    sf = str(tmp_path)

    def key(u, s):
        return (u is not None, u if u is not None else -1, s)

    gap = registry.QUERIES["s09_session_gap_replay"](spark, sf).collect()
    to = registry.QUERIES["s09_session_timeout_replay"](spark, sf).collect()
    got_gap = sorted(
        ((r.user_id, r.n_events, r.closed_by) for r in gap),
        key=lambda t: key(t[0], 0),
    )
    got_to = sorted(
        ((r.user_id, r.n_events, r.closed_by) for r in to),
        key=lambda t: key(t[0], 0),
    )
    # NULL user's first session gap-closes; nothing else gap-closes
    assert got_gap == [(None, 1, "gap")]
    # timeout twin: exactly the last session of each SAMPLED user
    assert got_to == [(None, 1, "timeout"), (10, 1, "timeout")]
    to_by_user = {r.user_id: r for r in to}
    assert to_by_user[None].session_start == pd.Timestamp(
        "2024-01-01 02:00:00"
    )
    assert to_by_user[10].session_start == pd.Timestamp(
        "2024-01-01 00:30:00"
    )

    con = duckdb.connect()
    glob = (sf + "/events.parquet/*.parquet").replace("'", "''")
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{glob}')"
    )
    for name, spark_rows in (
        ("s09_session_gap_replay", got_gap),
        ("s09_session_timeout_replay", got_to),
    ):
        oracle = sorted(
            (
                (o[0], o[3], o[4])
                for o in con.execute(registry.ORACLES[name]).fetchall()
            ),
            key=lambda t: key(t[0], 0),
        )
        assert oracle == spark_rows, name
