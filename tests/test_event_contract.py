"""The event-order contract, written once per engine.

A user's events run in ``ts`` order (NULLs first), then ``event_id``,
the events primary key. ``tables.py`` holds the order
(``_user_order`` / ``_user_order_sql``), the trailing scoring frame
(``_FRAME``), the variance floor (``_VAR_FLOOR``) and the session gap
(``_SESSION_GAP_MIN``, with the ``_new_session`` / ``_NEW_SESSION_SQL``
boundary), and the batch operators, their oracles and the streaming
twins compose them. ``timeseries.py`` holds the z-score, the Hampel
median, the EWMA and the hourly grid, one helper per engine each. Two
pins:

1. each rule is spelled once per engine across the package;
2. the constants are the only source of the frame, the gap and the
   seasonal lag: the modules compiled with other values still
   hash-match their oracles, and every output follows the new values.
"""

from __future__ import annotations

import inspect
import pathlib
import sys
import textwrap
import types

import pytest

from reddit_data_engineering_project_spark import registry
from reddit_data_engineering_project_spark.session import ensure_session_confs

from conftest import SF_DIR

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG_DIR = ROOT / "reddit_data_engineering_project_spark"
sys.path.insert(0, str(ROOT / "tools"))
from check_oracle import _oracle_db, table_hash  # noqa: E402

PKG = "reddit_data_engineering_project_spark"
registry.load_all_operators()

#: Frame rows, session gap (minutes) and seasonal lag (hours) the
#: modules are recompiled with.
FRAME, GAP_MIN, LAG_HOURS = 5, 20, 12

#: One spelling per rule and engine, counted over the whole package:
#: (Spark, SQL).
RULES = {
    "user order": (
        'orderBy("ts", "event_id")',
        "ts AS TIMESTAMP) NULLS FIRST, event_id",
    ),
    "session boundary": (
        'F.lag("event_id")',
        "lag(event_id) OVER",
    ),
    "session ordinal": (
        'F.sum("new_session")',
        "sum(new_session) OVER ({_user_order_sql",
    ),
    "z-score": ("F.sqrt(var)", "sqrt((ss - s * s / n) / (n - 1))"),
    "hampel median": ("n % 2 == 1", "{n} % 2 = 1"),
    "transitions": (
        'F.col("event_type").alias("next_type")',
        "event_type AS next_type",
    ),
    "ewma": (
        "wt * F.coalesce(c, F.lit(0))",
        '{wt} * coalesce({c}, 0)',
    ),
    "hourly grid": (
        'F.expr("INTERVAL 1 HOUR")',
        "generate_series(h0, h1, INTERVAL 1 HOUR)",
    ),
    "hourly series": (
        'F.sequence(F.lit(0).cast("bigint"), F.col("tmax"))',
        "date_diff('hour', h0, h1)",
    ),
}

#: Spellings the shared names replaced; none may come back.
GONE = (
    ".asc(), F.col(\"event_id\").asc()",
    "ts NULLS FIRST, event_id",
    "rowsBetween(-7",
    "7 PRECEDING",
    "INTERVAL 30 MINUTE",
    '"30 minutes"',
    "30 * 60",
    "INTERVAL 24 HOURS",
    "8 * cents",
    "weights = (8, 4, 2, 1)",
)


def _package_source() -> str:
    return "".join(p.read_text() for p in sorted(PKG_DIR.rglob("*.py")))


@pytest.mark.parametrize("rule", sorted(RULES))
def test_each_rule_is_written_once_per_engine(rule):
    src = _package_source()
    for snippet in RULES[rule]:
        assert src.count(snippet) == 1, (rule, snippet, src.count(snippet))


def test_replaced_spellings_are_gone():
    src = _package_source()
    assert [g for g in GONE if g in src] == []
    # the floor's literal lives only in tables.py among the event modules
    event_modules = [
        PKG_DIR / "tables.py",
        PKG_DIR / "operators" / "timeseries.py",
        PKG_DIR / "streaming" / "stateful.py",
        PKG_DIR / "streaming" / "stream_queries.py",
    ]
    assert sum(p.read_text().count("1e-12") for p in event_modules) == 1


def _exec(path: pathlib.Path, name: str, edits=()) -> types.ModuleType:
    src = path.read_text()
    for old, new in edits:
        assert src.count(old) == 1, old
        src = src.replace(old, new)
    mod = types.ModuleType(name)
    mod.__package__ = name.rpartition(".")[0]
    exec(compile(src, str(path), "exec"), mod.__dict__)
    return mod


@pytest.fixture(scope="module")
def recompiled():
    """``(entries, mods)``: ``{name: (fn, oracle)}`` and the modules of
    tables.py compiled with ``FRAME``/``GAP_MIN`` and of timeseries.py
    (with ``LAG_HOURS``), product_analytics.py, stream_queries.py,
    stateful.py and runner.py compiled against it. Registration is
    captured and ``sys.modules`` restored, so the real registry and
    modules are left as they are."""
    entries = {}

    def register(name, oracle, tags=()):
        def deco(fn):
            entries[name] = (fn, textwrap.dedent(oracle).strip())
            return fn

        return deco

    mods = {}
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(registry, "register", register)
        for rel, edits in (
            (
                "tables",
                [
                    ("_FRAME = 8\n", f"_FRAME = {FRAME}\n"),
                    ("_SESSION_GAP_MIN = 30\n", f"_SESSION_GAP_MIN = {GAP_MIN}\n"),
                ],
            ),
            (
                "operators.timeseries",
                [
                    (
                        "_SEASONAL_LAG_HOURS = 24\n",
                        f"_SEASONAL_LAG_HOURS = {LAG_HOURS}\n",
                    )
                ],
            ),
            ("operators.product_analytics", []),
            ("streaming.stateful", []),
            ("streaming.stream_queries", []),
            ("streaming.runner", []),
        ):
            name = f"{PKG}.{rel}"
            path = PKG_DIR.joinpath(*rel.split(".")).with_suffix(".py")
            mods[rel] = _exec(path, name, edits)
            mp.setitem(sys.modules, name, mods[rel])
    return entries, mods


def test_streaming_twins_follow_the_constants(recompiled):
    entries, mods = recompiled
    assert mods["streaming.stateful"]._FRAME == FRAME
    assert mods["streaming.stateful"]._SESSION_GAP_MS == GAP_MIN * 60_000
    gap = inspect.signature(mods["streaming.runner"].run_session_stream)
    assert gap.parameters["gap"].default == f"{GAP_MIN} minutes"
    assert f"ROWS BETWEEN {FRAME - 1} PRECEDING" in (
        entries["s08_stateful_zscore_replay"][1]
    )
    for name in (
        "s03_session_window",
        "s09_session_gap_replay",
        "s09_session_timeout_replay",
    ):
        assert f"INTERVAL {GAP_MIN} MINUTE" in entries[name][1], name


def _run(spark, fn, oracle):
    ensure_session_confs(spark)
    sdf = fn(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    con = _oracle_db(SF_DIR)
    try:
        res = con.execute(oracle)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
    finally:
        con.close()
    spark.catalog.clearCache()
    assert sorted(scols) == sorted(ocols)
    return table_hash(srows, scols), table_hash(orows, ocols)


@pytest.mark.parametrize(
    "name",
    [
        "pipeline_events_monitor",
        "q21_sessionize_gap",
        "q22_hampel_mad",
        "q22_rolling_zscore",
        "q22_seasonal_naive",
    ],
)
def test_frame_gap_and_lag_have_one_source(spark, recompiled, name):
    """Both engines follow the recompiled constants (hashes match), and
    the output moved off the shipped constants' output."""
    entries, _ = recompiled
    s_hash, o_hash = _run(spark, *entries[name])
    assert s_hash == o_hash, name
    shipped, _ = _run(spark, registry.QUERIES[name], registry.ORACLES[name])
    assert s_hash != shipped, name
