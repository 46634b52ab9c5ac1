"""Window-function operators (SURVEY §2.2 Q13).

Top-k *per group* is the direct generalization of the reference's
flagship ``subreddit.top()`` access pattern (reference
``etls/reddit_etl.py:49``): rank within a partition instead of globally.
``row_number`` keep-latest is also the engine's upsert primitive (Q19,
``operators/upsert.py``).

Scale notes (100 TB design point):
- Every window here partitions by a real key (user_id / segment / nation),
  so the sort is per-partition after ONE hash shuffle — never a global
  sort. An ORDER BY without PARTITION BY would single-task the world;
  none of these do that.
- Rank-filter queries (top-N per group) push the filter immediately after
  the window so only N rows per group survive the stage — Spark's
  WindowGroupLimit optimization even prunes during the sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.numeric import dround
from ..registry import register
from ..tables import _RUNNING_SQL, _user_order, _user_order_sql, table


@register(
    "q13_topn_per_group",
    oracle="""
    SELECT custkey, order_rank, o_orderkey, o_totalprice
    FROM (
        SELECT
            o_custkey AS custkey,
            row_number() OVER (
                PARTITION BY o_custkey
                ORDER BY o_totalprice DESC, o_orderkey ASC
            ) AS order_rank,
            o_orderkey,
            o_totalprice
        FROM orders
    )
    WHERE order_rank <= 3
    """,
    tags=("windows", "Q13"),
)
def q13_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — per-group top-k via row_number.

    The reference's global top-k (R2) partitioned by key. The rank<=N
    filter sits directly on the window output, enabling Spark's
    WindowGroupLimit pushdown (per-partition heaps, not full sorts).
    """
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        table(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("custkey"),
            F.row_number().over(w).alias("order_rank"),
            "o_orderkey",
            "o_totalprice",
        )
        .filter(F.col("order_rank") <= 3)
    )


@register(
    "q13_rank_dense_rank",
    oracle="""
    SELECT
        c_mktsegment,
        c_custkey,
        round(c_acctbal * 100.0) / 100.0 AS acctbal,
        rank() OVER (
            PARTITION BY c_mktsegment ORDER BY round(c_acctbal) DESC
        ) AS bal_rank,
        dense_rank() OVER (
            PARTITION BY c_mktsegment ORDER BY round(c_acctbal) DESC
        ) AS bal_dense_rank,
        ntile(4) OVER (
            PARTITION BY c_mktsegment
            ORDER BY c_acctbal DESC, c_custkey ASC
        ) AS bal_quartile
    FROM customer
    """,
    tags=("windows", "Q13"),
)
def q13_rank_dense_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank (with real ties) + ntile quartiles per segment.

    Ranks order by the ROUNDED balance so ties genuinely occur and the
    rank-vs-dense_rank gap is exercised; ntile uses the unique custkey
    tie-break to stay deterministic.
    """
    rounded = F.round(F.col("c_acctbal"))
    w_tie = Window.partitionBy("c_mktsegment").orderBy(rounded.desc())
    w_det = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_custkey",
        dround(F.col("c_acctbal")).alias("acctbal"),
        F.rank().over(w_tie).alias("bal_rank"),
        F.dense_rank().over(w_tie).alias("bal_dense_rank"),
        F.ntile(4).over(w_det).alias("bal_quartile"),
    )


@register(
    "q13_lag_lead",
    oracle=f"""
    SELECT
        user_id,
        event_id,
        CAST(ts AS TIMESTAMP) AS ts,
        lag(event_type) OVER w AS prev_type,
        lead(event_type) OVER w AS next_type,
        CAST(floor(
            epoch(CAST(ts AS TIMESTAMP))
            - epoch(lag(CAST(ts AS TIMESTAMP)) OVER w)
        ) AS BIGINT) AS secs_since_prev
    FROM events
    WINDOW w AS ({_user_order_sql()})
    """,
    tags=("windows", "Q13"),
)
def q13_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead across each user's event stream + inter-event gap seconds.

    The sessionization primitive: gap-since-previous feeds the session
    window operator (S3). One shuffle by user_id, per-user sort.
    """
    w = _user_order()
    ts_secs = F.col("ts").cast("double")
    prev_secs = F.lag(F.col("ts")).over(w).cast("double")
    return table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
        F.floor(ts_secs - prev_secs).cast("long").alias("secs_since_prev"),
    )


@register(
    "q13_running_frames",
    oracle=f"""
    WITH q AS (
        SELECT
            user_id,
            event_id,
            CAST(ts AS TIMESTAMP) AS ts,
            event_type,
            CAST(round(coalesce(value, 0.0) * 10000.0) AS BIGINT)
                AS value_e4
        FROM events
    )
    SELECT
        user_id,
        event_id,
        ts,
        round(sum(value_e4) OVER w_run / 100.0) / 100.0 + 0.0
            AS running_value,
        round(sum(value_e4) OVER w_mov / count(*) OVER w_mov) / 10000.0
            + 0.0 AS moving_avg_3,
        first_value(event_type) OVER w_run AS first_type
    FROM q
    WINDOW
        w_run AS ({_user_order_sql(_RUNNING_SQL)}),
        w_mov AS ({_user_order_sql(
            "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW"
        )})
    """,
    tags=("windows", "Q13"),
)
def q13_running_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-frame battery: running sum, 3-row moving average, first_value.

    Explicit ROWS frames (not the default RANGE frame) so peer rows with
    equal timestamps don't collapse — deterministic via the event_id
    tie-break in the ordering.

    Running sums fold e4-quantized BIGINTs, not doubles: windowed float
    sums are association-order-dependent (DuckDB aggregates window
    frames through a segment tree, Spark sequentially), so a running
    double sum can flip the rounded cent on either engine — the r11
    extreme-value sweep produced exactly that once a domain-edge value
    dominated the prefix. Integer folds are associative, hence
    engine-order-free; the quantized sum renders back through the
    identical round spelling on both sides.
    """
    w_run = _user_order(Window.unboundedPreceding)
    w_mov = _user_order(-2)
    val_e4 = (
        F.round(F.coalesce(F.col("value"), F.lit(0.0)) * 10000.0)
        .cast("long")
    )
    return table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        (
            F.round(F.sum(val_e4).over(w_run) / 100.0) / 100.0 + 0.0
        ).alias("running_value"),
        (
            F.round(
                F.sum(val_e4).over(w_mov)
                / F.count(F.lit(1)).over(w_mov)
            )
            / 10000.0
            + 0.0
        ).alias("moving_avg_3"),
        F.first("event_type").over(w_run).alias("first_type"),
    )


@register(
    "q13_window_share",
    oracle="""
    SELECT
        n.n_name AS nation,
        c.c_custkey,
        round(c.c_acctbal * 100.0) / 100.0 AS acctbal,
        round(
            c.c_acctbal / sum(c.c_acctbal) OVER (PARTITION BY n.n_name)
            * 1000000.0) / 1000000.0 AS nation_share
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_acctbal > 0
    """,
    tags=("windows", "Q13"),
)
def q13_window_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered analytic window: each customer's share of nation balance.

    PARTITION BY without ORDER BY → whole-partition aggregate broadcast
    to every row of the partition; no sort at all, just the one shuffle.
    """
    c = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    n = table(spark, sf_dir, "nation")
    w = Window.partitionBy("nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            "c_custkey",
            dround(F.col("c_acctbal")).alias("acctbal"),
            F.col("c_acctbal").alias("_bal"),
        )
        .withColumn(
            "nation_share", dround(F.col("_bal") / F.sum("_bal").over(w), 6)
        )
        .drop("_bal")
    )


@register(
    "q13_percent_rank_cume",
    oracle="""
    SELECT
        c_mktsegment,
        c_custkey,
        CAST(round(percent_rank() OVER w * 1000000.0) AS BIGINT)
            AS pct_rank_e6,
        CAST(round(cume_dist() OVER w * 1000000.0) AS BIGINT)
            AS cume_dist_e6
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
    tags=("windows", "Q13"),
)
def q13_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-rank analytics: percent_rank and cume_dist per segment —
    the normalized-position functions behind percentile gates and
    empirical CDFs.

    Both are pure integer-ratio functions of the deterministic order
    ((rank-1)/(n-1) and rank_last/n): identical int inputs → identical
    IEEE divisions → the e6-scaled BIGINT emits agree exactly. The
    (c_acctbal, c_custkey) order is total, so neither function sees a
    tie group that could differ between engines.

    Scale shape: one hash exchange + per-partition sort; both functions
    share the single window frame, and cume_dist's denominator is the
    partition count Spark already tracks — no second pass.
    """
    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_mktsegment",
        "c_custkey",
        F.round(F.percent_rank().over(w) * 1_000_000.0)
        .cast("bigint")
        .alias("pct_rank_e6"),
        F.round(F.cume_dist().over(w) * 1_000_000.0)
        .cast("bigint")
        .alias("cume_dist_e6"),
    )


@register(
    "q13_range_interval_frames",
    oracle="""
    WITH ev AS (
        SELECT
            event_id,
            user_id,
            CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec,
            CAST(round(value * 100.0) AS BIGINT) AS cents
        FROM events
        WHERE event_type = 'purchase'
    )
    SELECT
        event_id,
        user_id,
        CAST(count(*) OVER w AS BIGINT) AS n_trailing_1h,
        CAST(sum(cents) OVER w AS BIGINT) AS cents_trailing_1h
    FROM ev
    WINDOW w AS (
        PARTITION BY user_id ORDER BY sec
        RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
    )
    """,
    tags=("window", "Q13", "range-frame"),
)
def q13_range_interval_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13g: value-based (RANGE) frames — trailing 1-hour activity per user.

    The frame the ROWS battery (q13_running_frames) cannot express:
    "everything within the last hour OF EVENT TIME", where the frame
    width varies per row with the data's timestamps, and same-second
    peers enter the frame together (RANGE semantics) regardless of row
    order — which also makes the result deterministic under ties, unlike
    a ROWS frame over a non-total order.

    Cross-engine discipline: the frame is anchored on integer epoch
    seconds on BOTH engines (Spark ``unix_timestamp`` truncates, the
    oracle floors ``epoch()``'s fractional seconds), and the summed
    metric is pre-converted to integer cents per row so the windowed sum
    is exact integer math — float addition order inside a frame can
    differ between engines, integer addition cannot.

    Scale shape: one hash exchange on ``user_id`` + per-partition sort;
    Spark evaluates the RANGE frame with a sliding two-pointer over the
    sorted run (running add/evict), not a rescan per row — O(n) per
    partition. The event-type filter pushes to the scan.
    """
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.unix_timestamp("ts").alias("sec"),
            F.round(F.col("value") * 100.0).cast("bigint").alias("cents"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-3600, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).cast("bigint").alias("n_trailing_1h"),
        F.sum("cents").over(w).cast("bigint").alias("cents_trailing_1h"),
    )


@register(
    "q13_value_functions",
    oracle=f"""
    WITH ev AS (
        SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
               CASE WHEN event_type = 'purchase'
                    THEN CAST(round(value * 100.0) AS BIGINT) END
                   AS purchase_cents
        FROM events
    )
    SELECT
        event_id,
        user_id,
        first_value(event_type) OVER w AS first_type,
        last_value(event_type) OVER w AS latest_type,
        nth_value(event_type, 2) OVER w AS second_type,
        first_value(purchase_cents IGNORE NULLS) OVER w
            AS first_purchase_cents,
        last_value(purchase_cents IGNORE NULLS) OVER w
            AS latest_purchase_cents
    FROM ev
    WINDOW w AS ({_user_order_sql(_RUNNING_SQL)})
    """,
    tags=("window", "Q13", "value-functions"),
)
def q13_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13h: window VALUE functions — first/last/nth, with IGNORE NULLS.

    The remaining window-surface corner the rank/frame batteries leave
    out: positional value extraction over a running frame. Per user in
    event order: the session-opening event type (first_value), the
    current latest (last_value over the running frame), the second-ever
    event (nth_value — NULL until it exists), and the first/latest
    PURCHASE amounts via IGNORE NULLS on a purchase-only column — the
    idiom LOCF interpolation (q22_locf_fill) builds on, here pinned as
    its own battery.

    Determinism: the (ts, event_id) order is total; the running frame
    makes last_value well-defined (the default full-partition frame
    with last_value is the classic SQL footgun — every row would see
    the partition's final value); NULL-slot agreement between engines
    is exactly what IGNORE NULLS specifies.

    Scale shape: ONE user_id exchange + one sort; all five functions
    share the single running frame — no rescans, no extra exchanges.
    """
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        F.when(
            F.col("event_type") == "purchase",
            F.round(F.col("value") * 100.0).cast("bigint"),
        ).alias("purchase_cents"),
    )
    w = _user_order(Window.unboundedPreceding)
    return ev.select(
        "event_id",
        "user_id",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w).alias("latest_type"),
        F.nth_value("event_type", 2).over(w).alias("second_type"),
        F.first("purchase_cents", ignorenulls=True)
        .over(w)
        .alias("first_purchase_cents"),
        F.last("purchase_cents", ignorenulls=True)
        .over(w)
        .alias("latest_purchase_cents"),
    )
