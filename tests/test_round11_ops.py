"""Round-11 pins: s09 sample-predicate three-way identity (r10 verdict
item 4) and the round's smaller contract fixes.

The s09 replay pair's md5 1-in-8 user sample is load-bearing for TWO
driver hashes: any drift between the Spark-side filter and either
oracle's mirrored predicate silently re-scopes both entries. These
tests make the three-way agreement mechanical:

1. textual — ``_S09_SAMPLE_SQL`` appears verbatim in BOTH registered
   oracle texts;
2. semantic — the Spark filter, the DuckDB predicate, and an
   independent hashlib.md5 reference select the SAME user subset
   (including the kept NULL-user row) over a 500-id universe.
"""

from __future__ import annotations

import hashlib

import duckdb
import pytest

from reddit_data_engineering_project_spark import registry
from reddit_data_engineering_project_spark.streaming import stream_queries

registry.load_all_operators()


def _py_sample_keep(user_id):
    """Independent reference for the 1-in-8 md5 sample."""
    if user_id is None:
        return True
    digest = hashlib.md5(str(user_id).encode()).hexdigest()
    return int(digest[:8], 16) % 8 == 0


def test_s09_sample_sql_verbatim_in_both_oracles():
    sample = stream_queries._S09_SAMPLE_SQL
    for name in ("s09_session_gap_replay", "s09_session_timeout_replay"):
        oracle = registry.ORACLES[name]
        assert sample in oracle, (
            f"{name}'s oracle no longer embeds _S09_SAMPLE_SQL verbatim — "
            "the sample predicate drifted on one side"
        )


def test_s09_sample_duckdb_matches_reference():
    ids = list(range(500)) + [None]
    con = duckdb.connect()
    rows = con.execute(
        "SELECT user_id FROM (SELECT UNNEST(?::BIGINT[]) AS user_id) "
        f"WHERE {stream_queries._S09_SAMPLE_SQL} ORDER BY user_id",
        [ids],
    ).fetchall()
    got = {r[0] for r in rows}
    want = {u for u in ids if _py_sample_keep(u)}
    assert got == want
    # the NULL-user row must stay IN the sample (grouping edge case)
    assert None in got
    # sanity: the sample is a real subset, roughly 1/8
    assert 30 <= len(got - {None}) <= 95


def test_simhash_invariants_raise_not_assert(spark):
    """Capture-guarantee / band-width violations must raise ValueError
    (survives ``python -O``, r10 advice) instead of assert."""
    from reddit_data_engineering_project_spark.operators import dedup

    with pytest.raises(ValueError, match="divide 64"):
        dedup._simhash_buckets(object(), band_bits=7)
    with pytest.raises(ValueError, match="max_hamming"):
        # 16-bit bands, radius 2: (2+1)*4-1 = 11 < 15 -> weaker than the
        # pre-filter, must fail fast
        dedup._simhash_candidates(
            object(), band_bits=16, radius=2, max_hamming=15
        )
    # 16-bit bands, radius 1, max_hamming=7: (1+1)*4-1 = 7 -> the
    # J >~ 0.95 setting documented in x02_simhash16_neardup and SCALE.md
    # must build
    sh = spark.createDataFrame([(1, "a_b_c_d")], "doc_id long, shingle string")
    try:
        dedup._simhash_candidates(sh, band_bits=16, radius=1, max_hamming=7)
    finally:
        spark.catalog.clearCache()


def _window_checker():
    import importlib.util
    import pathlib

    spec = importlib.util.spec_from_file_location(
        "audit_plans_r11",
        pathlib.Path(__file__).resolve().parent.parent
        / "tools"
        / "audit_plans.py",
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.unbounded_global_windows


_REUSE_PLAN_TEMPLATE = """== Physical Plan ==
Window (1)
+- ReusedExchange (2)

Sort (3)
+- Exchange (4)
   +- {subtree_root} (5)
      +- Scan parquet  (6)

(1) Window
Arguments: [row_number() windowspecdefinition(ts ASC NULLS FIRST) AS rn], [ts ASC NULLS FIRST]

(2) ReusedExchange [Reuses operator id: {target}]
Output [2]: [event_id, ts]

(3) Sort
Arguments: [ts ASC NULLS FIRST], true, 0

(4) Exchange
Arguments: rangepartitioning(ts ASC NULLS FIRST, 32), ENSURE_REQUIREMENTS, [plan_id=1]

(5) {subtree_root}
Arguments: whatever

(6) Scan parquet
Output [2]: [event_id, ts]
Location: InMemoryFileIndex [file:/root/testdata/sf0.001/events.parquet]
"""


def test_unbounded_window_checker_resolves_reused_exchange():
    """A ReusedExchange directly under an unpartitioned ordered Window
    must be resolved back to its referenced subtree (r10 advice): the
    original site may feed a join, not a Window, so treating the node
    as cardinality-bounding was a false negative."""
    check = _window_checker()
    # referenced subtree reaches a raw events scan -> flag
    bad = _REUSE_PLAN_TEMPLATE.format(subtree_root="Project", target=4)
    assert check(bad) == [
        "Window(1) unpartitioned over raw events scan"
    ]
    # referenced subtree is aggregate-bounded -> no flag
    good = _REUSE_PLAN_TEMPLATE.format(
        subtree_root="HashAggregate", target=4
    )
    assert check(good) == []
    # unresolvable reference -> conservative flag for manual review
    dangling = _REUSE_PLAN_TEMPLATE.format(subtree_root="Project", target=99)
    assert check(dangling) == [
        "Window(1) unpartitioned over raw UNRESOLVED_REUSED_EXCHANGE scan"
    ]


def test_ingest_contract_guard(spark, tmp_path):
    """events.event_id is a DECLARED NOT-NULL unique arrival-sequence
    key (r10 recon decision: twelve event-order operators tie-break on
    (ts, event_id) and their oracles assume Spark/DuckDB never see a
    null there). The contract is enforced by a runnable guard, not a
    per-read scan: the committed corpus passes, a planted null key or
    duplicate key raises naming the table."""
    import shutil

    from pyspark.sql import functions as F

    from reddit_data_engineering_project_spark import tables

    sf = "/root/testdata/sf0.001"
    audit = tables.check_ingest_contracts(spark, sf)
    rows = {r.table_name: r for r in audit.collect()}
    # lineitem has no declared row identity (corpus line numbers are
    # non-unique and nothing keys on them) -> 9 audited tables
    assert len(rows) == 9 and "lineitem" not in rows
    assert all(r.n_in_domain == r.n_rows for r in rows.values())
    assert all(
        r.n_rows == r.n_complete_pk == r.n_distinct_pk
        for r in rows.values()
    )

    # plant a NULL event_id in a tmp copy -> guard raises
    bad = str(tmp_path / "bad")
    import os as _os

    _os.makedirs(bad)
    for t in tables.TABLE_NAMES:
        if t != "events":
            shutil.copy(f"{sf}/{t}.parquet", f"{bad}/{t}.parquet")
    ev = spark.read.parquet(f"{sf}/events.parquet")
    ev.withColumn(
        "event_id",
        F.when(F.col("event_id") == 1, F.lit(None)).otherwise(
            F.col("event_id")
        ),
    ).coalesce(1).write.mode("overwrite").parquet(f"{bad}/events.parquet")
    with pytest.raises(ValueError, match="events"):
        tables.check_ingest_contracts(spark, bad, tables=("events",))
    # duplicate key (two rows with event_id=2) -> also a violation
    dup = str(tmp_path / "dup")
    _os.makedirs(dup)
    two = ev.filter(F.col("event_id") == 2)
    ev.union(two).coalesce(1).write.mode("overwrite").parquet(
        f"{dup}/events.parquet"
    )
    with pytest.raises(ValueError, match="events"):
        tables.check_ingest_contracts(spark, dup, tables=("events",))
    # out-of-domain value (1e9 busts the quantized-compare headroom,
    # tables.VALUE_DOMAINS) -> also a violation; NULL values stay legal
    dom = str(tmp_path / "dom")
    _os.makedirs(dom)
    ev.withColumn(
        "value",
        F.when(F.col("event_id") == 1, F.lit(1e9)).otherwise(
            F.col("value")
        ),
    ).coalesce(1).write.mode("overwrite").parquet(f"{dom}/events.parquet")
    with pytest.raises(ValueError, match="in_domain"):
        tables.check_ingest_contracts(spark, dom, tables=("events",))
    # out-of-domain event TIME (tables.TIME_DOMAINS): a far-future ts
    # crashes Python window materialization (year-10000 window end)
    # and unbounds calendar-spine costs -> also a violation
    tdom = str(tmp_path / "tdom")
    _os.makedirs(tdom)
    ev.withColumn(
        "ts",
        F.when(
            F.col("event_id") == 1,
            F.lit("9999-12-31 23:50:00").cast("timestamp"),
        ).otherwise(F.col("ts")),
    ).coalesce(1).write.mode("overwrite").parquet(f"{tdom}/events.parquet")
    with pytest.raises(ValueError, match="in_domain"):
        tables.check_ingest_contracts(spark, tdom, tables=("events",))


def test_s09_sample_spark_matches_reference(spark):
    ids = list(range(500)) + [None]
    df = spark.createDataFrame([(u,) for u in ids], "user_id long")
    got = {
        r.user_id
        for r in stream_queries._s09_sample(df).collect()
    }
    want = {u for u in ids if _py_sample_keep(u)}
    assert got == want
