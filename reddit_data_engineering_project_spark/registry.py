"""Query registry: the engine's declared operator surface.

Every implemented operator registers a ``(spark, sf_dir) -> DataFrame``
callable plus the equivalent ANSI SQL for the DuckDB oracle.
``tests/test_oracle_contract.py`` runs every entry at sf0.001 and
compares row count, column names and an order-insensitive value hash
with its oracle (``tools/check_oracle.py`` runs the same comparison at
any scale factor).

Conventions (oracle-parity rules, SURVEY §7 "hard parts"):
- Alias EVERY computed/aggregate column identically on both sides.
- ``events.ts`` loads through ``tables.table()``, which normalizes both
  corpus generations (legacy ns-precision, current ``timestamp[us]``) to
  a session-TZ (UTC) TimestampType; oracle SQL keeps
  ``CAST(ts AS TIMESTAMP)`` wherever it is output or compared.
- Money sums: round the FINAL aggregate (``round(sum(x), 2)``) — both
  engines then snap to the same double.
- Averages/ratios: round to 4-6 decimals — and when the two engines
  compute a metric through DIFFERENT numeric paths, emit a scaled
  BIGINT (multiply-then-round) instead of a double.
- Integer outputs must be integer-typed on BOTH engines: DuckDB's
  ceil/floor return DOUBLE, sign() returns an integer, and sum(BIGINT)
  returns HUGEINT — cast each to BIGINT in the oracle (and mirror the
  cast in Spark when its type differs). Value hashes distinguish
  ``23`` from ``23.0``.
- Rounded DOUBLE outputs must canonicalize IEEE negative zero: Spark's
  BigDecimal ``round()`` can never emit ``-0.0``, DuckDB's double
  ``round()`` preserves the sign bit, and the value hash distinguishes
  them. Use ``functions.numeric.dround``/``dround_sql`` (their
  trailing ``+ 0.0`` is the canonicalizer) — never an inlined
  ``round(x*100)/100`` without it (the r11 extreme-value sweep caught
  five such oracles).
- Windowed/running SUMs of doubles are association-order-dependent
  (DuckDB aggregates frames via a segment tree, Spark sequentially):
  fold e4/e6-quantized BIGINTs instead, inside the declared
  ``tables.VALUE_DOMAINS`` headroom.
"""

from __future__ import annotations

import functools
import textwrap
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .session import ensure_session_confs

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
TAGS: dict[str, tuple[str, ...]] = {}


class _Scope(threading.local):
    """Per thread: the relations :func:`hold` persisted and the depth of
    registered entry calls in progress."""

    def __init__(self) -> None:
        self.held: list[DataFrame] = []
        self.depth = 0


_scope = _Scope()


def hold(df: DataFrame) -> DataFrame:
    """Persist ``df`` for the entry being built and return it.

    The engine's one persist discipline: every relation the engine
    persists goes through here and is released (unpersisted,
    non-blocking) at the next outermost registered entry call on the
    same thread, or at :func:`release`. It cannot be released after the
    action instead: entries return lazy DataFrames, and the action
    belongs to the caller. Entries that call other entries keep their
    relations, because only the outermost call releases. Each thread
    keeps its own list, so a streaming ``foreachBatch`` callback releases
    only what its batch held, and caches the caller made itself are
    never touched. A re-run after an input file is rewritten in place
    therefore reads the new file instead of the relation the first run
    cached.
    """
    df = df.persist()
    _scope.held.append(df)
    return df


def release() -> None:
    """Unpersist (non-blocking) every relation this thread :func:`hold`-s."""
    for df in _scope.held:
        df.unpersist(False)
    _scope.held.clear()


def register(
    name: str,
    oracle: str,
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    """Register a query under ``name`` with its DuckDB oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
            depth = _scope.depth
            if depth == 0:
                release()
            _scope.depth = depth + 1
            try:
                ensure_session_confs(spark)
                return fn(spark, sf_dir)
            finally:
                _scope.depth = depth

        if name in QUERIES:
            raise ValueError(f"duplicate query registration: {name}")
        QUERIES[name] = wrapper
        ORACLES[name] = textwrap.dedent(oracle).strip()
        if tags:
            TAGS[name] = tuple(tags)
        return wrapper

    return deco


def load_all_operators() -> None:
    """Import every operator module so registrations run."""
    from .operators import (  # noqa: F401
        adversarial,
        aggregates,
        bucketing,
        curation,
        dedup,
        jpeg,
        joins,
        layout,
        multimodal,
        product_analytics,
        relational,
        setops,
        similarity,
        sinks,
        text_analysis,
        timeseries,
        upsert,
        windows,
    )
    from .functions import scalar, text, udfs  # noqa: F401
    from .streaming import stream_queries  # noqa: F401
    from .transforms import posts  # noqa: F401
