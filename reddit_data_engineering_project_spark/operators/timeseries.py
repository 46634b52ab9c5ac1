"""Time-series operators over the events stream (Q22 family).

Two shared shapes carry all ten entries, each written once per engine:

* the per-user event order (``tables``' event-order contract: ``ts``
  NULLs first, then ``event_id``), over which the rolling z-score
  (``q22_rolling_zscore``, ``pipeline_events_monitor``), the Hampel
  filter, the EWMA and the CUSUM score each event against its trailing
  frame — ``_rolling_z`` / ``_FRAME_STATS_SQL`` + ``_Z_E4_SQL`` for the
  z-score, ``_mid2`` / ``_mid2_sql`` for the Hampel medians and
  ``_ewma_e2`` / ``_EWMA_E2_SQL`` for the EWMA;
* the dense hourly grid, over which gap-fill and LOCF fill silent
  (hour, type) cells (``_hourly_grid`` / ``_GRID_SQL``), and the hourly
  count series the correlogram and the decomposition read
  (``_hourly_count_series`` / ``_SERIES_SQL``); the seasonal-naive
  forecast joins the observed grid to itself ``_SEASONAL_LAG_HOURS``
  back.

Scale notes:
- Every per-user entry is one ``user_id`` hash exchange and one
  (ts, event_id) sort that all its windows share; bounded ROWS frames
  are sliding accumulators, so no frame rescans.
- The grid entries' only event-sized exchange is the hourly
  pre-aggregation; the spine is O(hours × types) rows, broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..registry import register
from ..tables import (
    _FRAME,
    _FRAME_SQL,
    _NEW_SESSION_SQL,
    _RUNNING_SQL,
    _SESSION_SEQ_SQL,
    _VAR_FLOOR,
    _new_session,
    _session_seq,
    _user_order,
    _user_order_sql,
    table,
)

#: The corpus's first and last hour, ``bounds(h0, h1)``.
_BOUNDS_SQL = """bounds AS (
        SELECT
            date_trunc('hour', min(CAST(ts AS TIMESTAMP))) AS h0,
            date_trunc('hour', max(CAST(ts AS TIMESTAMP))) AS h1
        FROM events
    )"""

#: Grid CTEs of the two gap-handling oracles (``bounds``, ``spine`` of
#: hours, ``types``; twin of :func:`_hourly_grid`), composed after
#: ``WITH`` like ``_SERIES_SQL``.
_GRID_SQL = f"""{_BOUNDS_SQL},
    spine AS (
        SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
        FROM bounds
    ),
    types AS (SELECT DISTINCT event_type FROM events)"""

#: The hourly count series ``series(t, x)`` of the correlogram and the
#: decomposition oracles (twin of :func:`_hourly_count_series`).
_SERIES_SQL = f"""{_BOUNDS_SQL},
    spine AS (
        SELECT CAST(unnest(generate_series(
            0, date_diff('hour', h0, h1))) AS BIGINT) AS t
        FROM bounds
    ),
    hourly AS (
        SELECT
            CAST(date_diff('hour',
                (SELECT h0 FROM bounds),
                date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS t,
            CAST(count(*) AS BIGINT) AS x
        FROM events
        GROUP BY 1
    ),
    series AS (
        SELECT s.t, COALESCE(h.x, CAST(0 AS BIGINT)) AS x
        FROM spine s LEFT JOIN hourly h USING (t)
    )"""

#: Frame count, sum and sum of squares of ``value`` over the trailing
#: frame; :data:`_Z_E4_SQL` reads them as ``n``, ``s``, ``ss``.
_FRAME_STATS_SQL = ",\n            ".join(
    f"{agg} OVER ({_user_order_sql(_FRAME_SQL)}) AS {name}"
    for agg, name in (
        ("count(value)", "n"),
        ("sum(value)", "s"),
        ("sum(value * value)", "ss"),
    )
)

#: The e4 z-score of ``value`` in its frame, NULL under the variance
#: floor (twin of :func:`_rolling_z`).
_Z_E4_SQL = f"""CASE WHEN n > 1 AND (ss - s * s / n) / (n - 1) > {_VAR_FLOOR}
             THEN CAST(round(
                    (value - s / n)
                    / sqrt((ss - s * s / n) / (n - 1)) * 10000.0)
                  AS BIGINT)
        END"""


def _rolling_z() -> tuple[Column, Column]:
    """``(scoreable, z_e4)`` of ``value`` against its user's trailing
    frame: the sum/sum-of-squares variance, spelled as in
    :data:`_Z_E4_SQL`, must clear the floor; ``z_e4`` is the e4 BIGINT
    score, meaningful only where ``scoreable``."""
    w = _user_order(1 - _FRAME)
    v = F.col("value")
    n = F.count("value").over(w)
    s = F.sum("value").over(w)
    ss = F.sum(v * v).over(w)
    var = (ss - s * s / n) / (n - 1)
    z = (v - s / n) / F.sqrt(var)
    return (n > 1) & (var > _VAR_FLOOR), F.round(z * 10000.0).cast("bigint")


def _hourly_grid(ev: DataFrame) -> DataFrame:
    """The dense (hour, event_type) spine both grid operators share.

    One 1-row min/max aggregate exploded through ``sequence`` into the
    hour spine, cross-joined with the distinct-type dim — both broadcast,
    so the grid costs no event-sized exchange. |hours| x |types| rows at
    any corpus size.
    """
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    spine = bounds.select(
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias(
            "hour"
        )
    )
    types = ev.select("event_type").distinct()
    return F.broadcast(spine).crossJoin(F.broadcast(types))


@register(
    "q22_timeseries_gapfill",
    oracle=f"""
    WITH {_GRID_SQL},
    hourly AS (
        SELECT
            date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
            event_type,
            count(*) AS n_events,
            CAST(round(sum(value) * 100.0) AS BIGINT) AS value_e2
        FROM events
        GROUP BY 1, 2
    )
    SELECT
        s.hour,
        t.event_type,
        COALESCE(h.n_events, 0) AS n_events,
        COALESCE(h.value_e2, 0) AS value_e2
    FROM spine s
    CROSS JOIN types t
    LEFT JOIN hourly h ON h.hour = s.hour AND h.event_type = t.event_type
    """,
    tags=("timeseries", "Q22"),
)
def q22_timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample with explicit zero-fill for silent hours.

    Irregular events → (hour, event_type) grid covering EVERY hour
    between the corpus min and max, with hours that saw no traffic
    emitted as explicit zero rows. The dense grid is what rate
    dashboards, seasonality models, and drift monitors consume — a
    missing row and a zero row mean different things.

    Plan shape: one groupBy over events (the only event-sized shuffle);
    the spine is ``sequence(h0, h1, 1 hour)`` exploded from the single
    min/max bound row, cross-joined with the tiny distinct-type dim
    (both broadcast — Catalyst plans BroadcastNestedLoopJoin over two
    sub-thousand-row inputs), then a broadcast left join picks up the
    aggregated grid. At 100 TB the spine is still |hours|×|types| rows.
    """
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value") * 100.0).cast("bigint").alias("value_e2"),
    )
    grid = _hourly_grid(ev)
    return grid.join(F.broadcast(hourly), ["hour", "event_type"], "left").select(
        "hour",
        "event_type",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("value_e2", F.lit(0)).alias("value_e2"),
    )


@register(
    "q22_rolling_zscore",
    oracle=f"""
    WITH framed AS (
        SELECT
            user_id,
            event_id,
            CAST(ts AS TIMESTAMP) AS ts,
            value,
            {_FRAME_STATS_SQL}
        FROM events
    )
    SELECT
        user_id,
        event_id,
        ts,
        CAST(round(value * 10000.0) AS BIGINT) AS value_e4,
        {_Z_E4_SQL} AS z_e4
    FROM framed
    """,
    tags=("timeseries", "Q22", "anomaly"),
)
def q22_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window z-score per observation — the rolling anomaly gate.

    Each event's value is scored against the mean/std of its trailing
    ``_FRAME``-observation frame (inclusive) within the same user.
    Variance comes from the explicit sum/sum-of-squares identity
    (:func:`_rolling_z`, twin of ``_Z_E4_SQL``), so both engines run the
    same float arithmetic on the same contract-ordered frame; the score
    is a scaled BIGINT per the registry float discipline, and the
    variance floor (``_VAR_FLOOR``) keeps the constant-frame case NULL
    on both sides instead of dividing rounding dust.

    Scale shape: one hash exchange on user_id, one per-partition sort;
    the bounded ROWS frame is a sliding accumulator (no per-row rescan)
    and memory per partition is O(frame), not O(user history). This is
    the batch twin of the streaming profile's online stats.
    """
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    scoreable, z_e4 = _rolling_z()
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.col("value") * 10000.0).cast("bigint").alias("value_e4"),
        F.when(scoreable, z_e4).alias("z_e4"),
    )


@register(
    "q22_locf_fill",
    oracle=f"""
    WITH {_GRID_SQL},
    hourly AS (
        SELECT
            date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
            event_type,
            CAST(round(avg(value) * 10000.0) AS BIGINT) AS avg_value_e4
        FROM events
        WHERE value IS NOT NULL
        GROUP BY 1, 2
    ),
    grid AS (
        SELECT s.hour, t.event_type, h.avg_value_e4
        FROM spine s
        CROSS JOIN types t
        LEFT JOIN hourly h ON h.hour = s.hour AND h.event_type = t.event_type
    )
    SELECT
        hour,
        event_type,
        avg_value_e4 IS NULL AS is_filled,
        last_value(avg_value_e4 IGNORE NULLS) OVER (
            PARTITION BY event_type
            ORDER BY hour
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS locf_value_e4
    FROM grid
    """,
    tags=("timeseries", "Q22", "locf"),
)
def q22_locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward over the dense hourly grid — the
    other half of gap handling: Q22a's zero-fill is right for counts,
    LOCF is right for level metrics (a sensor that didn't report still
    HAS a temperature; carrying the last reading forward is the
    standard step-function interpolation).

    Built on the same spine as Q22a, then one ``last_value(...IGNORE
    NULLS)`` running frame per event_type — leading hours before a
    type's first observation stay NULL (nothing to carry), and
    ``is_filled`` marks carried rows so downstream can weight them. The
    hourly level is an e4-scaled BIGINT before the carry, so the carried
    value is bit-identical to its source row on both engines.

    Scale shape: the event-sized work is one groupBy; the window runs
    over the grid (|hours|×|types| rows), partitioned by type — state is
    one scalar per partition, and a year of hours × thousands of types
    is still only millions of grid rows.
    """
    ev = table(spark, sf_dir, "events")
    hourly = (
        ev.filter(F.col("value").isNotNull())
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type")
        .agg(
            F.round(F.avg("value") * 10_000.0)
            .cast("bigint")
            .alias("avg_value_e4")
        )
    )
    grid = _hourly_grid(ev).join(
        F.broadcast(hourly), ["hour", "event_type"], "left"
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return grid.select(
        "hour",
        "event_type",
        F.col("avg_value_e4").isNull().alias("is_filled"),
        F.last("avg_value_e4", ignorenulls=True).over(w).alias("locf_value_e4"),
    )


@register(
    "pipeline_events_monitor",
    oracle=f"""
    WITH scored AS (
        SELECT
            user_id,
            event_id,
            CAST(ts AS TIMESTAMP) AS ts,
            value,
            {_FRAME_STATS_SQL},
            {_NEW_SESSION_SQL} AS new_session
        FROM events
    ),
    flagged AS (
        SELECT
            user_id, event_id, ts,
            {_SESSION_SEQ_SQL} AS session_seq,
            CASE WHEN abs({_Z_E4_SQL}) > 20000
                 THEN 1 ELSE 0 END AS is_anomaly
        FROM scored
    ),
    sessions AS (
        SELECT
            user_id,
            session_seq,
            CAST(date_trunc('day', min(ts)) AS DATE) AS day,
            count(*) AS n_events,
            CAST(sum(is_anomaly) AS BIGINT) AS n_anomalies
        FROM flagged
        GROUP BY user_id, session_seq
    )
    SELECT
        day,
        count(*) AS n_sessions,
        CAST(sum(n_events) AS BIGINT) AS n_events,
        CAST(sum(n_anomalies) AS BIGINT) AS n_anomaly_events,
        count(*) FILTER (WHERE n_anomalies > 0) AS n_flagged_sessions
    FROM sessions
    GROUP BY day
    """,
    tags=("pipeline", "timeseries", "Q21", "Q22"),
)
def pipeline_events_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed monitoring pipeline: rolling anomaly score → gaps-and-
    islands sessionization → per-session rollup → daily health report.

    The third composed pipeline (companion to the training-prep and
    curation chains): the operational side of the engine. The point the
    composition pins: all three event-order windows (the lag boundary
    flag, the running session ordinal, the trailing anomaly frame) declare
    the SAME (user_id | ts, event_id) ordering, so Catalyst plans ONE
    hash exchange and ONE sort for the entire event-sized stretch of the
    plan — per-event monitoring at 100 TB costs exactly one shuffle, and
    the two rollups above it operate on session- then day-sized data.

    The anomaly flag thresholds the ROUNDED e4-BIGINT score (|z| > 2σ ≡
    |z_e4| > 20000), so the daily counts inherit Q22b's cross-engine
    determinism instead of re-exposing a float compare.
    """
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    scoreable, z_e4 = _rolling_z()
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        _new_session().alias("new_session"),
        F.when(scoreable & (F.abs(z_e4) > 20000), 1)
        .otherwise(0)
        .alias("is_anomaly"),
    ).withColumn("session_seq", _session_seq())
    sessions = flagged.groupBy("user_id", "session_seq").agg(
        F.to_date(F.date_trunc("day", F.min("ts"))).alias("day"),
        F.count("*").alias("n_events"),
        F.sum("is_anomaly").cast("bigint").alias("n_anomalies"),
    )
    return sessions.groupBy("day").agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.sum("n_anomalies").cast("bigint").alias("n_anomaly_events"),
        F.count(F.when(F.col("n_anomalies") > 0, 1)).alias(
            "n_flagged_sessions"
        ),
    )


#: Finite-horizon EWMA (q22_ewma_window): alpha = 1/2, horizon 4 —
#: weights 8,4,2,1 over lags 0..3, renormalized over the lags that
#: exist near stream starts. Power-of-two weights keep the numerator
#: exact integer math in both engines.
_EWMA_WEIGHTS = (8, 4, 2, 1)

#: The EWMA's lagged ``cents`` as ``c1``.. (lag 0 is ``cents`` itself),
#: and the smoothed value over ``cents``, ``c1``.. in e2 cents: weights
#: of the non-NULL values only, NULL when every value is NULL (twin of
#: :func:`_ewma_e2`).
_EWMA_COLS = ["cents"] + [f"c{i}" for i in range(1, len(_EWMA_WEIGHTS))]
_EWMA_LAGS_SQL = ",\n".join(
    f"lag(cents, {i}) OVER ({_user_order_sql()}) AS {c}"
    for i, c in enumerate(_EWMA_COLS[1:], 1)
)
_EWMA_NUM_SQL = " + ".join(
    f"{wt} * coalesce({c}, 0)" for wt, c in zip(_EWMA_WEIGHTS, _EWMA_COLS)
)
_EWMA_DEN_SQL = " + ".join(
    f"CASE WHEN {c} IS NULL THEN 0 ELSE {wt} END"
    for wt, c in zip(_EWMA_WEIGHTS, _EWMA_COLS)
)
_EWMA_E2_SQL = f"""CASE WHEN {_EWMA_DEN_SQL} > 0 THEN CAST(round(
            CAST({_EWMA_NUM_SQL} AS DOUBLE) * 100.0 / ({_EWMA_DEN_SQL})
        ) AS BIGINT) END"""


def _ewma_lags() -> list[Column]:
    """``cents`` at lags 1.. in contract order (twin of ``_EWMA_LAGS_SQL``)."""
    return [
        F.lag("cents", i).over(_user_order()) for i in range(1, len(_EWMA_WEIGHTS))
    ]


def _ewma_e2(lags: list[Column]) -> Column:
    """The smoothed e2 cents of ``lags`` (lag 0 first): an exact integer
    numerator over the weights of the non-NULL values, NULL when every
    value is NULL (an unguarded 0/0 is ANSI-conf-dependent)."""
    num = sum(
        (wt * F.coalesce(c, F.lit(0)) for wt, c in zip(_EWMA_WEIGHTS, lags)),
        F.lit(0),
    )
    den = sum(
        (
            F.when(c.isNull(), 0).otherwise(wt)
            for wt, c in zip(_EWMA_WEIGHTS, lags)
        ),
        F.lit(0),
    )
    return F.when(
        den > 0, F.round(num.cast("double") * 100.0 / den).cast("bigint")
    )


@register(
    "q22_ewma_window",
    oracle=f"""
    WITH ev AS (
        SELECT
            event_id,
            user_id,
            CAST(ts AS TIMESTAMP) AS ts,
            CAST(round(value * 100.0) AS BIGINT) AS cents
        FROM events
        WHERE event_type = 'purchase'
    ),
    lagged AS (
        SELECT event_id, user_id, cents, {_EWMA_LAGS_SQL}
        FROM ev
    )
    SELECT
        event_id,
        user_id,
        cents,
        {_EWMA_E2_SQL} AS ewma_cents_e2
    FROM lagged
    """,
    tags=("timeseries", "Q22", "smoothing"),
)
def q22_ewma_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22d: finite-horizon exponentially-weighted moving average.

    The smoothing rung between LOCF (q22_locf_fill) and the rolling
    z-score: recent observations weighted geometrically (α = 1/2 over a
    4-step horizon), the standard trend-extraction pass before anomaly
    thresholds. A true infinite-horizon EWMA is a sequential recurrence
    (state = f(state)) that neither a window function nor the oracle
    expresses; truncating at 4 lags captures 15/16 of the weight mass
    and keeps the operator a pure window projection with exact
    cross-engine semantics.

    Exactness: integer cents × power-of-two weights → exact BIGINT
    numerator; the single double division is the same IEEE op on both
    engines; stream-start rows — and NULL observations anywhere in the
    frame, current row included (adversarial-sweep finding: the oracle
    previously nulled the whole numerator when the CURRENT value was
    NULL while Spark renormalized) — renormalize over the values that
    exist (no zero-padding bias); an all-NULL frame emits NULL
    explicitly (an unguarded 0/0 is ANSI-conf-dependent).

    Scale shape: identical to every trailing-window op here — one hash
    exchange on ``user_id``, one per-partition sort shared by all four
    lags (one window frame), no rescan, no state beyond 4 values.
    """
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.round(F.col("value") * 100.0).cast("bigint").alias("cents"),
        )
    )
    lags = [F.col("cents"), *_ewma_lags()]
    return ev.select(
        "event_id", "user_id", "cents", _ewma_e2(lags).alias("ewma_cents_e2")
    )


#: CUSUM target (q22_cusum_drift): deviations are measured against this
#: fixed cents level; at deployment the target comes from a trained
#: baseline (e.g. last month's mean) — fixed here so the detector and
#: its oracle are fully deterministic.
_CUSUM_TARGET_CENTS = 5000


@register(
    "q22_cusum_drift",
    oracle=f"""
    WITH p AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
               CAST(round(value * 100.0) AS BIGINT)
                   - {_CUSUM_TARGET_CENTS} AS dev
        FROM events WHERE event_type = 'purchase'
    ),
    s AS (
        SELECT event_id, user_id, ts,
               CAST(sum(dev) OVER w AS BIGINT) AS cum_dev
        FROM p
        WINDOW w AS ({_user_order_sql(_RUNNING_SQL)})
    )
    SELECT event_id, user_id, cum_dev,
           CAST(cum_dev - least(min(cum_dev) OVER w, 0) AS BIGINT)
               AS cusum_pos
    FROM s
    WINDOW w AS ({_user_order_sql(_RUNNING_SQL)})
    """,
    tags=("timeseries", "Q22", "drift"),
)
def q22_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22e: one-sided CUSUM drift statistic per user — change detection.

    The classic sequential change-point detector: has this user's spend
    drifted above the target level? Its textbook form is a recurrence
    (``C_t = max(0, C_{t-1} + dev_t)``) that no window function
    expresses — but it has the exact closed form
    ``C_t = S_t − min(0, min_{i≤t} S_i)`` over the running deviation
    sum ``S``, which IS two stacked window passes: a running cumsum,
    then a running minimum of that cumsum in the same event order.
    This is the same recurrence-to-prefix-form rewrite that makes
    sessionization (day-minus-row_number) and streak detection
    window-expressible — the technique pinned once more on a control-
    chart operator.

    All integer math: deviations are exact cents against a fixed
    target, both window aggregates are BIGINT — no float anywhere, so
    cross-engine agreement is structural.

    Scale shape: one user_id exchange and ONE (ts, event_id) sort that
    both stacked running frames share — Spark evaluates cumsum and
    running-min as sliding accumulators over the same sorted pass; no
    rescans, no joins, no second sort.
    """
    p = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "ts",
            (
                F.round(F.col("value") * 100.0).cast("bigint")
                - _CUSUM_TARGET_CENTS
            ).alias("dev"),
        )
    )
    w = _user_order(Window.unboundedPreceding)
    s = p.select(
        "event_id",
        "user_id",
        "ts",
        F.sum("dev").over(w).cast("bigint").alias("cum_dev"),
    )
    return s.select(
        "event_id",
        "user_id",
        "cum_dev",
        (F.col("cum_dev") - F.least(F.min("cum_dev").over(w), F.lit(0)))
        .cast("bigint")
        .alias("cusum_pos"),
    )


#: Seasonal-naive lag (q22_seasonal_naive): one day of hourly cells —
#: "this hour yesterday" is the strongest trivial baseline for daily-
#: periodic telemetry.
_SEASONAL_LAG_HOURS = 24


@register(
    "q22_seasonal_naive",
    oracle=f"""
    WITH ev AS (
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
               event_type,
               CAST(round(coalesce(value, 0.0) * 100.0) AS BIGINT) AS cents
        FROM events
    ),
    grid AS (
        SELECT hour, event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(cents) AS BIGINT) AS cents
        FROM ev GROUP BY 1, 2
    ),
    shifted AS (
        SELECT g.hour, g.event_type, g.n_events, g.cents,
               p.cents AS forecast_cents
        FROM grid g
        LEFT JOIN grid p
          ON p.event_type = g.event_type
         AND p.hour = g.hour - INTERVAL {_SEASONAL_LAG_HOURS} HOUR
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_scored_hours,
           CAST(round(avg(CAST(abs(cents - forecast_cents) AS DOUBLE)))
                AS BIGINT) AS mae_cents,
           CAST(max(abs(cents - forecast_cents)) AS BIGINT) AS worst_abs_err
    FROM shifted
    WHERE forecast_cents IS NOT NULL
    GROUP BY event_type
    """,
    tags=("timeseries", "Q22", "forecast"),
)
def q22_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22f: seasonal-naive forecast baseline + its backtest error.

    Every forecasting effort needs the bar to clear: predict each
    (hour, type) cell with the SAME HOUR YESTERDAY (lag
    ``_SEASONAL_LAG_HOURS`` on the hourly grid) and score that
    baseline's MAE over the history. A model that can't beat
    seasonal-naive isn't a model; this operator makes the bar a
    one-call, in-engine number instead of notebook folklore. (Backtest
    caveat encoded in the WHERE: the first day scores nothing — no
    fabricated zero-forecasts.)

    NOTE the forecast lookup is CALENDAR-anchored — a grid self-join on
    (type, hour − lag) — not a rows-based ``lag(24)``, which silently
    drifts off "yesterday" wherever the observed grid has holes. The
    join runs on the AGGREGATED hourly grid (grid-sized, thousands of
    rows), never raw events — the same collapse-first discipline as the
    feature-store pipeline. A dense-grid variant (over the zero-filled
    spine from q22_timeseries_gapfill) would additionally forecast 0
    for silent hours; the sparse form scores observed cells only.

    All-integer: cents per cell, integer absolute errors; the MAE's
    single division is the only float op, rounded to integer cents.

    Scale shape: one event-sized (hour, type) aggregate with map-side
    combine; the calendar join and the error rollup run at grid size
    on the grid's own (type, hour) layout.
    """
    ev = table(spark, sf_dir, "events").select(
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        "event_type",
        F.round(F.coalesce(F.col("value"), F.lit(0.0)) * 100.0)
        .cast("bigint")
        .alias("cents"),
    )
    grid = ev.groupBy("hour", "event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum("cents").cast("bigint").alias("cents"),
    )
    prev = grid.select(
        F.col("event_type").alias("p_type"),
        (
            F.col("hour") + F.expr(f"INTERVAL {_SEASONAL_LAG_HOURS} HOURS")
        ).alias("p_hour"),
        F.col("cents").alias("forecast_cents"),
    )
    shifted = grid.join(
        prev,
        (F.col("event_type") == F.col("p_type"))
        & (F.col("hour") == F.col("p_hour")),
    )
    err = F.abs(F.col("cents") - F.col("forecast_cents"))
    return shifted.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_scored_hours"),
        F.round(F.avg(err.cast("double"))).cast("bigint").alias("mae_cents"),
        F.max(err).cast("bigint").alias("worst_abs_err"),
    )


def _mid2(s: str, n: Column) -> Column:
    """Twice the median of the sorted array column ``s`` of size ``n``:
    the middle element doubled, or the middle pair summed (an exact
    integer either way); NULL when ``s`` is empty."""
    half = (n / 2).cast("int")
    return (
        F.when(n == 0, F.lit(None).cast("bigint"))
        .when(n % 2 == 1, F.lit(2) * F.element_at(s, ((n + 1) / 2).cast("int")))
        .otherwise(F.element_at(s, half) + F.element_at(s, half + 1))
    )


def _mid2_sql(s: str, n: str) -> str:
    """SQL twin of :func:`_mid2` over list ``s`` of length ``n``."""
    return f"""CASE WHEN {n} = 0 THEN NULL
                    WHEN {n} % 2 = 1 THEN 2 * {s}[({n} + 1) // 2]
                    ELSE {s}[{n} // 2] + {s}[{n} // 2 + 1]
               END"""


@register(
    "q22_hampel_mad",
    oracle=f"""
    WITH q AS (
        SELECT
            user_id,
            event_id,
            CAST(ts AS TIMESTAMP) AS ts,
            CAST(round(value * 10000.0) AS BIGINT) AS vq
        FROM events
    ),
    framed AS (
        SELECT user_id, event_id, vq,
               list_sort(list_filter(list(vq) OVER w,
                                     x -> x IS NOT NULL)) AS s
        FROM q
        WINDOW w AS ({_user_order_sql(_FRAME_SQL)})
    ),
    med AS (
        SELECT *, len(s) AS n, {_mid2_sql("s", "len(s)")} AS med2
        FROM framed
    ),
    dev AS (
        SELECT *,
               list_sort(list_transform(s, x -> abs(2 * x - med2))) AS d
        FROM med
    ),
    mad AS (
        SELECT *, {_mid2_sql("d", "n")} AS mad4
        FROM dev
    )
    SELECT
        user_id,
        event_id,
        vq AS value_e4,
        CAST(med2 AS BIGINT) AS med2,
        CAST(mad4 AS BIGINT) AS mad4,
        CASE WHEN vq IS NOT NULL AND n >= 3 AND mad4 > 0
             THEN CAST(CASE WHEN 20000 * abs(2 * vq - med2)
                                 > 44478 * mad4
                            THEN 1 ELSE 0 END AS INT)
        END AS is_outlier
    FROM mad
    """,
    tags=("timeseries", "Q22", "anomaly", "robust"),
)
def q22_hampel_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22: Hampel filter — rolling median/MAD robust outlier gate, the
    heavy-tail-safe sibling of q22_rolling_zscore.

    Mean/std anomaly gates self-destruct on the anomalies they hunt (a
    spike inflates the std that judges it, masking neighbors); the
    Hampel filter scores each value against the MEDIAN of its trailing
    ``_FRAME``-row frame and flags |v - med| > 3·1.4826·MAD — breakdown point
    50% instead of 0%. All in exact integers: values e4-quantized,
    medians carried ×2 (a half-integer mid-pair becomes the integer
    sum), MAD carried ×4, and the flag compare cross-multiplied to
    20000·|2v - med2| > 44478·mad4 (= 3·1.4826 scaled e4) — no float
    exists anywhere in the operator, so both engines agree bit-exactly
    with no rounding discipline needed. NULL values occupy frame slots
    but are excluded from the order statistics (the q22/s08 ROWS-frame
    convention); the flag needs ≥3 observations and MAD > 0 (a
    constant frame has no robust scale — NULL, the variance-floor
    analog). Frame order is the event-order contract on BOTH
    engines — Spark's ``Window.orderBy`` ascending default — unlike
    the s08 replay twin, whose oracle mirrors pandas' NULLS-LAST sort;
    the two entries document the two orderings their engines impose.

    Scale shape: ONE user_id hash exchange + sort (identical to the
    z-score twin — in a fused deployment both gates share it); the
    frame list is collected, sorted, and indexed entirely inside
    whole-stage codegen — order statistics over a BOUNDED frame need no
    second shuffle and no UDF, and per-row cost is O(frame log frame)
    regardless of corpus size.
    """
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.col("value") * 10000.0).cast("bigint").alias("vq"),
    )
    framed = ev.select(
        "user_id",
        "event_id",
        "vq",
        F.sort_array(F.collect_list("vq").over(_user_order(1 - _FRAME))).alias(
            "s"
        ),
    )
    n = F.size("s")
    med = framed.select(
        "user_id", "event_id", "vq", "s", n.alias("n"), _mid2("s", n).alias("med2")
    )
    dev = med.select(
        "user_id",
        "event_id",
        "vq",
        "n",
        "med2",
        F.sort_array(
            F.transform("s", lambda x: F.abs(x * 2 - F.col("med2")))
        ).alias("d"),
    )
    nn = F.col("n")
    mad = dev.select(
        "user_id", "event_id", "vq", "n", "med2", _mid2("d", nn).alias("mad4")
    )
    return mad.select(
        "user_id",
        "event_id",
        F.col("vq").alias("value_e4"),
        F.col("med2").cast("bigint").alias("med2"),
        F.col("mad4").cast("bigint").alias("mad4"),
        F.when(
            F.col("vq").isNotNull() & (nn >= 3) & (F.col("mad4") > 0),
            (
                F.lit(20000) * F.abs(F.col("vq") * 2 - F.col("med2"))
                > F.lit(44478) * F.col("mad4")
            ).cast("int"),
        ).alias("is_outlier"),
    )


def _hourly_count_series(ev: DataFrame) -> DataFrame:
    """Dense hour-indexed total-count series ``(t, x)`` — the shared
    spine of the correlogram and decomposition operators.

    ``t`` is the hour index off the corpus min (0..n-1, no gaps), ``x``
    the event count that hour (explicit 0 for silent hours — lag-k
    neighbours are only meaningful on a dense grid). Exactly ONE
    event-sized aggregate exists (the absolute-hour roll-up), and it is
    persisted: the min/max bounds, the hour-index projection, AND both
    downstream consumers of the series (per-lag stats + global moments;
    trend rows + seasonal means) all branch from the 720-row cache.
    Unpersisted, column pruning would specialize each branch's scan
    schema, defeat ReusedExchange (the q21_triangle_count lesson), and
    re-run the fact scan up to four times — persist pins ONE fact scan
    total. Same lifecycle convention as the PageRank and k-core edge
    lists (caller's action completes; session teardown reclaims the
    720 rows). Calendar-sized at ANY corpus size.
    """
    hourly = (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.count("*").cast("bigint").alias("x"))
        .persist()
    )
    bounds = hourly.agg(
        F.min("h").alias("h0"),
        ((F.unix_timestamp(F.max("h")) - F.unix_timestamp(F.min("h"))) / 3600)
        .cast("bigint")
        .alias("tmax"),
    )
    indexed = hourly.crossJoin(F.broadcast(bounds)).select(
        ((F.unix_timestamp("h") - F.unix_timestamp("h0")) / 3600)
        .cast("bigint")
        .alias("t"),
        "x",
    )
    spine = bounds.select(
        F.explode(
            F.sequence(F.lit(0).cast("bigint"), F.col("tmax"))
        ).alias("t")
    )
    return spine.join(F.broadcast(indexed), "t", "left").select(
        "t", F.coalesce("x", F.lit(0).cast("bigint")).alias("x")
    )


@register(
    "q22_acf_hourly",
    oracle=f"""
    WITH {_SERIES_SQL},
    tot AS (
        SELECT
            CAST(count(*) AS BIGINT) AS n,
            CAST(sum(x) AS BIGINT) AS s,
            CAST(sum(x * x) AS BIGINT) AS q
        FROM series
    ),
    lags AS (
        SELECT CAST(unnest(generate_series(1, 24)) AS BIGINT) AS k
    ),
    pairs AS (
        SELECT l.k, a.x AS xa, b.x AS xb
        FROM series a
        CROSS JOIN lags l
        JOIN series b ON b.t = a.t + l.k
    ),
    lagstats AS (
        SELECT
            k,
            CAST(count(*) AS BIGINT) AS m,
            CAST(sum(xa * xb) AS BIGINT) AS c,
            CAST(sum(xa) AS BIGINT) AS ah,
            CAST(sum(xb) AS BIGINT) AS bt
        FROM pairs
        GROUP BY k
    )
    SELECT
        k AS lag_h,
        m AS n_pairs,
        CAST(round(
            CAST(n * n * c - n * s * (ah + bt) + m * s * s AS DOUBLE)
            / CAST(n * n * q - n * s * s AS DOUBLE) * 1000000.0
        ) AS BIGINT) AS acf_e6
    FROM lagstats CROSS JOIN tot
    WHERE n * n * q - n * s * s > 0
    """,
    tags=("timeseries", "Q22", "autocorrelation"),
)
def q22_acf_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22: sample autocorrelation of hourly traffic at lags 1-24 — the
    correlogram that tells a forecaster which seasonality exists.

    "Does traffic have a daily cycle?" — ACF(24) answers it, and the
    lag-1..23 profile sizes AR terms for any downstream forecast model
    (the seasonal-naive baseline q22_seasonal_naive ASSUMES period 24;
    this operator is the measurement that justifies the assumption).
    r_k = SUM_t (x_t - mean)(x_{t+k} - mean) / SUM_t (x_t - mean)^2 on
    the dense zero-filled hourly grid (gaps would silently misalign
    lag pairs on a sparse series).

    Float mean-centering would be run-order-dependent, so the estimator
    is expanded into pure integer moments (the q21_spend_trend_ols
    discipline): with S=SUM x, Q=SUM x^2, and per-lag pair sums
    C_k=SUM x_t*x_{t+k}, A_k/B_k the head/tail sums over the m_k pairs,
    n^2 * num_k = n^2*C_k - n*S*(A_k+B_k) + m_k*S^2 and
    n^2 * den = n^2*Q - n*S^2 are exact BIGINTs; the single double
    division emits acf_e6. Terms are bounded by ~4*n^3*xbar^2 — exact
    through ~7e4 events/hour on the 30-day grid; above that, pre-scale
    the counts (ACF is invariant under uniform scaling of x, up to the
    e6 rounding).

    Scale shape: ONE event-sized hash aggregate (the hourly roll-up);
    everything after runs on the calendar-sized series — the 24 lead
    columns come from one un-partitioned window over 720 rows (the
    documented calendar-bounded exception), the pair explosion is
    |hours|*24 rows, and the moments join is a 1-row broadcast. No
    event-sized shuffle beyond the roll-up, no self-join of the fact.
    """
    ev = table(spark, sf_dir, "events")
    series = _hourly_count_series(ev)
    # Un-partitioned window: this is the source of the "WindowExec: No
    # Partition Defined" WARN in bench/driver logs — intentional and
    # safe, the input is the calendar-bounded 720-row hourly series
    # (single-partition-by-construction), never event-sized data.
    wo = Window.orderBy("t")
    lead_cols = series.select(
        "t",
        "x",
        *[F.lead("x", k).over(wo).alias(f"xb{k}") for k in range(1, 25)],
    )
    pairs = (
        lead_cols.select(
            "x",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).cast("bigint").alias("k"),
                            F.col(f"xb{k}").alias("xb"),
                        )
                        for k in range(1, 25)
                    ]
                )
            ).alias("p"),
        )
        .select("x", F.col("p.k").alias("k"), F.col("p.xb").alias("xb"))
        .where(F.col("xb").isNotNull())
    )
    lagstats = pairs.groupBy("k").agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum(F.col("x") * F.col("xb")).cast("bigint").alias("c"),
        F.sum("x").cast("bigint").alias("ah"),
        F.sum("xb").cast("bigint").alias("bt"),
    )
    tot = series.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("q"),
    )
    num = (
        F.col("n") * F.col("n") * F.col("c")
        - F.col("n") * F.col("s") * (F.col("ah") + F.col("bt"))
        + F.col("m") * F.col("s") * F.col("s")
    )
    den = F.col("n") * F.col("n") * F.col("q") - F.col("n") * F.col(
        "s"
    ) * F.col("s")
    return (
        lagstats.crossJoin(F.broadcast(tot))
        .where(den > 0)
        .select(
            F.col("k").alias("lag_h"),
            F.col("m").alias("n_pairs"),
            F.round(num.cast("double") / den.cast("double") * 1000000.0)
            .cast("bigint")
            .alias("acf_e6"),
        )
    )


@register(
    "q22_seasonal_decompose",
    oracle=f"""
    WITH {_SERIES_SQL},
    tr AS (
        SELECT
            t, x, t % 24 AS hod,
            lag(x, 12) OVER wo
            + 2 * CAST(sum(x) OVER w11 AS BIGINT)
            + lead(x, 12) OVER wo AS trend48
        FROM series
        WINDOW wo AS (ORDER BY t),
               w11 AS (ORDER BY t
                       ROWS BETWEEN 11 PRECEDING AND 11 FOLLOWING)
    ),
    seas AS (
        SELECT
            hod,
            CAST(sum(48 * x - trend48) AS BIGINT) AS num,
            CAST(count(*) AS BIGINT) AS cnt
        FROM tr
        WHERE trend48 IS NOT NULL
        GROUP BY hod
    )
    SELECT
        tr.t AS t,
        tr.hod AS hod,
        tr.x AS x,
        CASE WHEN trend48 IS NOT NULL THEN
            CAST(round(CAST(1000000 * trend48 AS DOUBLE) / 48.0)
                 AS BIGINT) END AS trend_e6,
        CAST(round(CAST(1000000 * num AS DOUBLE)
                   / CAST(48 * cnt AS DOUBLE)) AS BIGINT) AS seasonal_e6,
        CASE WHEN trend48 IS NOT NULL AND num IS NOT NULL THEN
            1000000 * tr.x
            - CAST(round(CAST(1000000 * trend48 AS DOUBLE) / 48.0)
                   AS BIGINT)
            - CAST(round(CAST(1000000 * num AS DOUBLE)
                         / CAST(48 * cnt AS DOUBLE)) AS BIGINT)
        END AS resid_e6
    FROM tr LEFT JOIN seas USING (hod)
    """,
    tags=("timeseries", "Q22", "seasonality"),
)
def q22_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22: classical additive decomposition of hourly traffic —
    trend + hour-of-day seasonal + residual, all in exact integers.

    The textbook moving-average decomposition (Hyndman & Athanasopoulos
    fpp ch. 3): trend is the 2x24 centered moving average (even period,
    so the 25-hour window with half weights at both ends), the seasonal
    index is the mean DETRENDED value per hour-of-day, the residual is
    what neither explains — the series a drift monitor actually wants to
    alert on (q22_rolling_zscore on raw counts fires every rush hour;
    on resid_e6 it fires on genuine anomalies).

    Exact-integer algebra: the weighted 25-hour window sum carries the
    trend x48 (weights 1,2,...,2,1 sum to 48) as
    lag(x,12) + 2*SUM[-11..+11] + lead(x,12) — a plain integer — so the
    detrended value x48 is 48*x - trend48 and the per-hod seasonal mean
    has integer numerator SUM(48x - trend48) and denominator 48*cnt.
    The only doubles are the two final e6 divisions, identical
    expressions on both engines. Seasonal indices are deliberately NOT
    re-centered to sum 0: re-centering divides by a second fractional
    mean whose 24-term float summation order differs across engines;
    the constant it would remove lands in resid_e6 identically on both
    sides. hod = t % 24 (index arithmetic), never dayofweek()/hour() —
    engine day-numbering conventions differ (0- vs 1-based), mod does
    not.

    Scale shape: identical to the correlogram twin — one event-sized
    hash aggregate, then calendar-sized windows (un-partitioned over
    720 rows, the documented exception), a 24-row seasonal aggregate
    broadcast back. Edge rows (t < 12, t > n-13) emit NULL trend/resid
    exactly like the oracle.
    """
    ev = table(spark, sf_dir, "events")
    series = _hourly_count_series(ev)
    # Un-partitioned windows (the "WindowExec: No Partition Defined"
    # WARN): intentional — input is the 720-row calendar series.
    wo = Window.orderBy("t")
    w11 = Window.orderBy("t").rowsBetween(-11, 11)
    tr = series.select(
        "t",
        "x",
        (F.col("t") % 24).alias("hod"),
        (
            F.lag("x", 12).over(wo)
            + F.lit(2) * F.sum("x").over(w11)
            + F.lead("x", 12).over(wo)
        ).alias("trend48"),
    )
    seas = (
        tr.where(F.col("trend48").isNotNull())
        .groupBy("hod")
        .agg(
            F.sum(F.lit(48) * F.col("x") - F.col("trend48"))
            .cast("bigint")
            .alias("num"),
            F.count("*").cast("bigint").alias("cnt"),
        )
    )
    trend_e6 = F.when(
        F.col("trend48").isNotNull(),
        F.round(
            (F.lit(1000000) * F.col("trend48")).cast("double") / F.lit(48.0)
        ).cast("bigint"),
    )
    seasonal_e6 = F.round(
        (F.lit(1000000) * F.col("num")).cast("double")
        / (F.lit(48) * F.col("cnt")).cast("double")
    ).cast("bigint")
    return tr.join(F.broadcast(seas), "hod", "left").select(
        "t",
        "hod",
        "x",
        trend_e6.alias("trend_e6"),
        seasonal_e6.alias("seasonal_e6"),
        F.when(
            F.col("trend48").isNotNull() & F.col("num").isNotNull(),
            F.lit(1000000) * F.col("x") - trend_e6 - seasonal_e6,
        ).alias("resid_e6"),
    )
