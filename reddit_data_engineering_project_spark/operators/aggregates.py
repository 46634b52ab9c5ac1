"""Aggregate operators (SURVEY §2.2 Q7-Q9).

Generalizes the reference's only aggregate — the per-run row count logged
at ``etls/reddit_etl.py:112-117`` — to the full warehouse aggregate
surface its Redshift role implies: multi-key hash aggregates, distinct /
approx-distinct, rollup / cube / grouping sets.

Scale notes (100 TB design point):
- Every groupBy here is a partial (map-side) + final hash aggregate:
  Spark combines locally before the shuffle, so bytes shuffled scale with
  |groups|, not |rows|. Group keys are all low-cardinality.
- ``count(DISTINCT x)`` expands + reshuffles on (group, x); at lake scale
  prefer ``approx_count_distinct`` (HLL++, one pass, mergeable sketch) —
  ``q08_approx_distinct`` proves the estimate lands within 2% without
  shipping exact sets, which is the operative contract for telemetry.
- rollup/cube compile to a single Expand + one aggregate, not N scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.numeric import dround
from ..registry import register
from ..tables import table


@register(
    "q07_hash_aggregate",
    oracle="""
    SELECT
        l_returnflag,
        l_linestatus,
        count(*) AS n_rows,
        round(sum(l_quantity) * 100.0) / 100.0 AS sum_qty,
        round(sum(l_extendedprice * (1 - l_discount)) * 100.0) / 100.0
            AS sum_disc_price,
        round(avg(l_quantity) * 10000.0) / 10000.0 AS avg_qty,
        min(l_shipdate) AS first_ship,
        max(l_shipdate) AS last_ship
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY 1, 2
    """,
    tags=("aggregates", "Q7"),
)
def q07_hash_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key hash aggregate with the full agg-function battery (TPC-H Q1 shape).

    Six groups total → the partial aggregate reduces each input partition
    to ≤6 rows before the shuffle; the exchange is O(partitions), not
    O(rows), at any scale.

    Determinism audit (round-3 avg sweep): ``l_quantity`` holds whole
    numbers stored as double; sums of exactly-representable integers
    below 2^53 are exact under IEEE addition in any order, so
    ``sum``/``avg(l_quantity)`` are partition-order-insensitive —
    unlike integral-typed columns, which Spark's ``Average`` sums as
    inexact doubles (see x05_corpus_slice).
    """
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        dround(F.sum("l_quantity")).alias("sum_qty"),
        dround(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        ).alias("sum_disc_price"),
        dround(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


@register(
    "q08_distinct_pairs",
    oracle="""
    SELECT DISTINCT user_id, event_type
    FROM events
    WHERE event_type IN ('click', 'purchase', 'view')
    """,
    tags=("aggregates", "Q8"),
)
def q08_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicates`` over a key pair — the R16 dedup primitive.

    Compiles to a hash aggregate on the pair (no sort); with partial
    aggregation the shuffle carries only distinct pairs per partition.
    """
    return (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase", "view"))
        .select("user_id", "event_type")
        .dropDuplicates()
    )


@register(
    "q08_count_distinct",
    oracle="""
    SELECT
        event_type,
        count(DISTINCT user_id) AS n_users,
        count(*) AS n_events
    FROM events
    GROUP BY 1
    """,
    tags=("aggregates", "Q8"),
)
def q08_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group count-distinct (the small-cardinality case)."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
    )


@register(
    "q08_approx_distinct",
    oracle="""
    SELECT
        event_type,
        count(DISTINCT user_id) AS exact_users,
        TRUE AS approx_within_2pct
    FROM events
    GROUP BY 1
    """,
    tags=("aggregates", "Q8", "approx"),
)
def q08_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approx-distinct proven against the exact count.

    The scale path: ``approx_count_distinct`` is a single-pass mergeable
    sketch (no expand, no per-value shuffle). The query emits a boolean
    "estimate within 2% of exact" per group, which the oracle pins to
    TRUE — so the correctness gate actually verifies the sketch's
    accuracy contract rather than trusting it.
    """
    rsd = 0.01  # HLL++ relative standard deviation; 2% bound ≈ 2σ
    # Pre-distinct (event_type, user_id) instead of countDistinct-in-agg:
    # mixing an exact distinct aggregate with a non-distinct one compiles
    # to an Expand that duplicates the whole stream (one copy per
    # aggregate family); the explicit distinct is one shuffle with
    # map-side partial dedup, and both final aggregates read the already-
    # distinct pairs. Measured ~2x faster at sf0.1 and shuffles half the
    # bytes at any scale.
    pairs = (
        table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
    )
    return (
        pairs.groupBy("event_type")
        # count(user_id), not count(*): the pre-distinct keeps one
        # (type, NULL) pair per type with anonymous events, and
        # COUNT(DISTINCT user_id) semantics ignore NULLs — count(*)
        # over-counted by one on such types (found by the round-10
        # NULL-user hostile-corpus class).
        .agg(
            F.count("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", rsd).alias("approx_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= F.col("exact_users") * 0.02
            ).alias("approx_within_2pct"),
        )
    )


@register(
    "q07_percentiles",
    oracle="""
    SELECT
        l_returnflag,
        round(quantile_cont(l_extendedprice, 0.5) * 10000.0) / 10000.0
            AS median_price,
        round(quantile_cont(l_extendedprice, 0.95) * 10000.0) / 10000.0
            AS p95_price,
        round(quantile_cont(l_quantity, 0.25) * 10000.0) / 10000.0
            AS q1_qty
    FROM lineitem
    GROUP BY 1
    """,
    tags=("aggregates", "Q7", "percentile"),
)
def q07_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (median, p95, Q1).

    ``F.percentile`` (exact, linear interpolation — matches SQL
    ``quantile_cont``) for the oracle-checked truth. At 100 TB swap in
    ``approx_percentile`` (KLL-sketch, mergeable, one pass) — same call
    shape, bounded error; the exact form here pins the semantics.
    """
    li = table(spark, sf_dir, "lineitem")
    # Both price percentiles share ONE sort buffer (array form) instead of
    # two independent percentile aggregates — at scale this halves the
    # per-group sort memory and CPU.
    agg = li.groupBy("l_returnflag").agg(
        F.percentile(
            "l_extendedprice", F.array(F.lit(0.5), F.lit(0.95))
        ).alias("price_pcts"),
        F.percentile("l_quantity", F.lit(0.25)).alias("q1"),
    )
    return agg.select(
        "l_returnflag",
        dround(F.col("price_pcts").getItem(0), 4).alias("median_price"),
        dround(F.col("price_pcts").getItem(1), 4).alias("p95_price"),
        dround(F.col("q1"), 4).alias("q1_qty"),
    )


@register(
    "q09_pivot",
    oracle="""
    SELECT
        user_id,
        count(*) FILTER (event_type = 'click') AS n_click,
        count(*) FILTER (event_type = 'view') AS n_view,
        count(*) FILTER (event_type = 'purchase') AS n_purchase,
        count(*) FILTER (event_type = 'signup') AS n_signup,
        count(*) FILTER (event_type = 'error') AS n_error
    FROM events
    GROUP BY 1
    """,
    tags=("aggregates", "Q9", "pivot"),
)
def q09_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: event types to columns (the wide activity-matrix report).

    ``pivot`` with an EXPLICIT value list — omitting it forces an extra
    distinct-scan job to discover the columns, and makes the output
    schema data-dependent (a schema-drift hazard at 100 TB). With the
    list, this is a single hash aggregate producing one row per user.
    """
    types = ["click", "view", "purchase", "signup", "error"]
    pivoted = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .pivot("event_type", types)
        .count()
    )
    return pivoted.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}")
            for t in types
        ],
    )


@register(
    "q09_rollup",
    oracle="""
    SELECT
        n.n_name AS nation,
        c.c_mktsegment AS segment,
        grouping(n.n_name) AS g_nation,
        grouping(c.c_mktsegment) AS g_segment,
        count(*) AS n_customers,
        round(sum(c.c_acctbal) * 100.0) / 100.0 AS total_balance
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY ROLLUP (n.n_name, c.c_mktsegment)
    """,
    tags=("aggregates", "Q9"),
)
def q09_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup: (nation, segment) → (nation) → grand total.

    ``grouping()`` flags disambiguate subtotal rows from genuine NULL
    keys — required for a lossless multi-grain report. One Expand + one
    aggregate; the broadcast dim join precedes it.
    """
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(F.col("n_name").alias("nation"), F.col("c_mktsegment").alias("segment"), "c_acctbal")
        .rollup("nation", "segment")
        .agg(
            F.grouping("nation").alias("g_nation"),
            F.grouping("segment").alias("g_segment"),
            F.count("*").alias("n_customers"),
            dround(F.sum("c_acctbal")).alias("total_balance"),
        )
        .select(
            "nation", "segment", "g_nation", "g_segment",
            "n_customers", "total_balance",
        )
    )


@register(
    "q09_cube",
    oracle="""
    SELECT
        o_orderstatus,
        o_orderpriority,
        grouping(o_orderstatus) AS g_status,
        grouping(o_orderpriority) AS g_priority,
        count(*) AS n_orders,
        round(sum(o_totalprice) * 100.0) / 100.0 AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("aggregates", "Q9"),
)
def q09_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cube over (status, priority): all four grouping combinations."""
    return (
        table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").alias("g_status"),
            F.grouping("o_orderpriority").alias("g_priority"),
            F.count("*").alias("n_orders"),
            dround(F.sum("o_totalprice")).alias("total_price"),
        )
    )


@register(
    "q09_grouping_sets",
    oracle="""
    SELECT
        o_orderpriority,
        CAST(year(o_orderdate) AS INT) AS order_year,
        grouping(o_orderpriority) AS g_priority,
        CAST(grouping(CAST(year(o_orderdate) AS INT)) AS INT) AS g_year,
        count(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (CAST(year(o_orderdate) AS INT)))
    """,
    tags=("aggregates", "Q9"),
)
def q09_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets: by-priority and by-year slices in one pass.

    Two independent reports from one scan + one aggregate — the
    multi-grain daily-reporting pattern (SURVEY Q9) without re-reading
    100 TB per grain.
    """
    o = table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.year("o_orderdate").cast("int").alias("order_year"),
    )
    return o.groupingSets(
        [["o_orderpriority"], ["order_year"]],
        "o_orderpriority",
        "order_year",
    ).agg(
        F.grouping("o_orderpriority").alias("g_priority"),
        F.grouping("order_year").cast("int").alias("g_year"),
        F.count("*").alias("n_orders"),
    )


@register(
    "q07_weighted_median",
    oracle="""
    WITH ranked AS (
        SELECT
            l_returnflag,
            l_extendedprice,
            CAST(l_quantity AS BIGINT) AS w,
            sum(CAST(l_quantity AS BIGINT)) OVER (
                PARTITION BY l_returnflag
                ORDER BY l_extendedprice, l_orderkey, l_linenumber
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            ) AS cum_w,
            sum(CAST(l_quantity AS BIGINT)) OVER (
                PARTITION BY l_returnflag
            ) AS total_w
        FROM lineitem
    )
    SELECT
        l_returnflag,
        CAST(total_w AS BIGINT) AS total_weight,
        min(l_extendedprice) AS weighted_median_price
    FROM ranked
    WHERE cum_w * 2 >= total_w
    GROUP BY l_returnflag, total_w
    """,
    tags=("aggregates", "Q7", "weighted-median"),
)
def q07_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median (lower-median convention) per group — the
    aggregate Spark has no built-in for, composed from two windows.

    Weighted median of extended price with quantity weights: the first
    price (in deterministic (price, orderkey, linenumber) order) whose
    cumulative weight reaches half the group total. Weights are exact
    BIGINTs (quantity is whole-valued), so the half-total comparison is
    integer arithmetic — no float boundary exists, and the picked price
    is a VALUE FROM THE DATA, not an interpolation, so the hash compares
    raw doubles both engines read identically from parquet.

    Scale shape: one hash exchange on the group key serves the running
    window, the per-group total (unordered frame over the same
    partitioning), and the final min — Catalyst stacks all three on one
    Exchange/Sort pair, and the ``min`` collapses the qualifying suffix
    per group instead of ranking it.
    """
    li = table(spark, sf_dir, "lineitem")
    order = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    w = F.col("l_quantity").cast("bigint")
    ranked = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum(w)
        .over(order.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_w"),
        F.sum(w).over(Window.partitionBy("l_returnflag")).alias("total_w"),
    )
    return (
        ranked.filter(F.col("cum_w") * 2 >= F.col("total_w"))
        .groupBy("l_returnflag", "total_w")
        .agg(F.min("l_extendedprice").alias("weighted_median_price"))
        .select(
            "l_returnflag",
            F.col("total_w").cast("bigint").alias("total_weight"),
            "weighted_median_price",
        )
    )


@register(
    "q07_winsorized_stats",
    oracle="""
    WITH sized AS (
        SELECT event_type, value,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY value, event_id
               ) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM events
        WHERE value IS NOT NULL
    ),
    cuts AS (
        SELECT event_type,
               min(CASE WHEN rn >= CAST(ceil(0.05 * n) AS BIGINT)
                        THEN value END) AS p05,
               min(CASE WHEN rn >= CAST(ceil(0.95 * n) AS BIGINT)
                        THEN value END) AS p95
        FROM sized
        GROUP BY event_type
    )
    SELECT
        s.event_type,
        CAST(max(s.n) AS BIGINT) AS n_values,
        min(c.p05) AS p05,
        min(c.p95) AS p95,
        CAST(sum(CASE WHEN s.value < c.p05 OR s.value > c.p95
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
        CAST(round(sum(
            CASE WHEN s.value < c.p05 THEN c.p05
                 WHEN s.value > c.p95 THEN c.p95
                 ELSE s.value END) * 100.0) AS BIGINT) AS winsorized_sum_e2
    FROM sized s JOIN cuts c ON s.event_type = c.event_type
    GROUP BY s.event_type
    """,
    tags=("aggregates", "Q7", "robust"),
)
def q07_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (p05/p95-clipped) statistics per group — the robust
    pre-normalization step that keeps a handful of broken sensors from
    dominating a mean or a scaler fit.

    Cut points are DISCRETE percentiles (the lower-median convention
    generalized): the first data value whose deterministic rank reaches
    ⌈q·n⌉ — values FROM the data, picked by exact integer rank compare,
    never interpolated, so both engines choose identical doubles and
    the clipped sum is one multiply-then-round of identical inputs.

    Scale shape: one hash exchange on the group key drives the ranking
    window and the per-group count (unordered frame, same partitioning);
    the cut table is |groups| rows and broadcasts back onto the same
    partitioning for the clip pass, so the second aggregate re-uses the
    first exchange's layout under AQE.
    """
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    order = Window.partitionBy("event_type").orderBy("value", "event_id")
    whole = Window.partitionBy("event_type")
    sized = ev.select(
        "event_type",
        "value",
        F.row_number().over(order).alias("rn"),
        F.count("*").over(whole).alias("n"),
    )
    cuts = sized.groupBy("event_type").agg(
        F.min(
            F.when(
                F.col("rn") >= F.ceil(0.05 * F.col("n")).cast("bigint"),
                F.col("value"),
            )
        ).alias("p05"),
        F.min(
            F.when(
                F.col("rn") >= F.ceil(0.95 * F.col("n")).cast("bigint"),
                F.col("value"),
            )
        ).alias("p95"),
    )
    s, c = sized.alias("s"), cuts.alias("c")
    clipped = F.when(F.col("s.value") < F.col("c.p05"), F.col("c.p05")).when(
        F.col("s.value") > F.col("c.p95"), F.col("c.p95")
    ).otherwise(F.col("s.value"))
    return (
        s.join(F.broadcast(c), F.col("s.event_type") == F.col("c.event_type"))
        .groupBy(F.col("s.event_type").alias("event_type"))
        .agg(
            F.max("s.n").cast("bigint").alias("n_values"),
            F.min("c.p05").alias("p05"),
            F.min("c.p95").alias("p95"),
            F.sum(
                F.when(
                    (F.col("s.value") < F.col("c.p05"))
                    | (F.col("s.value") > F.col("c.p95")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_clipped"),
            F.round(F.sum(clipped) * 100.0)
            .cast("bigint")
            .alias("winsorized_sum_e2"),
        )
    )


@register(
    "q09_unpivot",
    oracle="""
    WITH wide AS (
        SELECT
            n.n_name AS nation,
            count(*) AS n_cust,
            CAST(round(sum(c.c_acctbal) * 100.0) AS BIGINT) AS total_bal_e2,
            CAST(round(max(c.c_acctbal) * 100.0) AS BIGINT) AS max_bal_e2
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    )
    SELECT nation, metric, value
    FROM (
        UNPIVOT wide
        ON n_cust, total_bal_e2, max_bal_e2
        INTO NAME metric VALUE value
    )
    """,
    tags=("aggregates", "Q9", "unpivot"),
)
def q09_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide → long unpivot (melt): the inverse of Q9's pivot, the shape
    metric stores and BI layers ingest (one (entity, metric, value) row
    per cell).

    All melted metrics are pre-cast to BIGINT so the unified ``value``
    column has one exact type on both engines — unpivoting mixed
    numeric types would otherwise coerce through doubles and expose
    rendering drift.

    Scale shape: unpivot is a zero-shuffle Expand (each input row emits
    |metrics| output rows inside codegen); the only exchange is the
    upstream per-nation aggregate, and the broadcast dim join rides the
    fact scan.
    """
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    wide = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_cust"),
            F.round(F.sum("c_acctbal") * 100.0)
            .cast("bigint")
            .alias("total_bal_e2"),
            F.round(F.max("c_acctbal") * 100.0)
            .cast("bigint")
            .alias("max_bal_e2"),
        )
    )
    return wide.unpivot(
        ids=["nation"],
        values=["n_cust", "total_bal_e2", "max_bal_e2"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@register(
    "q07_heavy_hitters",
    oracle="""
    WITH counts AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
        FROM events
        GROUP BY user_id
    ),
    tot AS (SELECT sum(n_events) AS total FROM counts)
    SELECT
        user_id,
        n_events,
        CAST(rk AS BIGINT) AS rank,
        CAST(round(CAST(n_events AS DOUBLE)
                   / (SELECT total FROM tot) * 1000000.0) AS BIGINT)
            AS share_e6
    FROM (
        SELECT user_id, n_events,
               row_number() OVER (
                   ORDER BY n_events DESC, user_id ASC
               ) AS rk
        FROM counts
    )
    WHERE rk <= 20
    """,
    tags=("aggregate", "Q7", "skew"),
)
def q07_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7d: heavy-hitter profile — the skew diagnostic behind join planning.

    Before salting a join or sizing AQE's skew thresholds you need to
    KNOW the key distribution; this op reports the top-20 hottest keys
    and each one's share of total traffic — the exact numbers that decide
    whether a key needs salting (q10_join_salted_skew) or a degree cap
    (q21_copurchase_reach2's hub note). Run it on any prospective
    shuffle key; here it profiles ``events.user_id``.

    Scale shape: one hash aggregate with map-side combine collapses the
    fact table to |keys| rows; the top-20 is a TakeOrderedAndProject over
    that (no global sort — verified in the plan test), and the 1-row
    total rides as a broadcast. Output is 20 rows at any corpus size.
    The share is one IEEE division over exact integers, e6-scaled.
    """
    ev = table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events")
    )
    tot = counts.agg(F.sum("n_events").alias("total"))
    w = Window.orderBy(F.desc("n_events"), F.asc("user_id"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 20)
        .crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            "n_events",
            "rank",
            F.round(F.col("n_events").cast("double") / F.col("total") * 1000000.0)
            .cast("bigint")
            .alias("share_e6"),
        )
    )


@register(
    "q07_mode_exact",
    oracle="""
    WITH counts AS (
        SELECT c_mktsegment, n_name, count(*) AS n
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2
    )
    SELECT c_mktsegment,
           n_name AS mode_nation,
           CAST(n AS BIGINT) AS n_customers
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY c_mktsegment ORDER BY n DESC, n_name ASC
        ) AS rk
        FROM counts
    )
    WHERE rk = 1
    """,
    tags=("aggregate", "Q7", "mode"),
)
def q07_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7e: exact per-group mode with a PINNED tie-break.

    "Most common value per group" is an everyday aggregate with a
    cross-engine trap: built-in ``mode()`` implementations break ties
    arbitrarily (DuckDB documents no order; Spark's ``mode`` takes the
    first seen — partitioning-dependent), so the same data can yield
    different answers run to run. The deterministic form is
    count-then-rank with an explicit (count desc, value asc) order —
    spelled out identically on both engines, which is why this op
    deliberately avoids both built-ins.

    Scale shape: the (group, value) count is one map-side-combinable
    aggregate; the rank runs at distinct-pair size (here |segments| ×
    |nations|), with the nation dim broadcast into the count.
    """
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    counts = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_mktsegment", "n_name")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("n").desc(), F.col("n_name").asc()
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "c_mktsegment",
            F.col("n_name").alias("mode_nation"),
            F.col("n").cast("bigint").alias("n_customers"),
        )
    )


@register(
    "q07_corr_exact_moments",
    oracle="""
    WITH m AS (
        SELECT
            l_returnflag,
            CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
            CAST(sum(CAST(round(l_extendedprice) AS BIGINT)) AS BIGINT)
                AS sy,
            CAST(sum(CAST(l_quantity AS BIGINT)
                     * CAST(round(l_extendedprice) AS BIGINT)) AS BIGINT)
                AS sxy,
            CAST(sum(CAST(l_quantity AS BIGINT)
                     * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxx,
            CAST(sum(CAST(round(l_extendedprice) AS BIGINT)
                     * CAST(round(l_extendedprice) AS BIGINT)) AS BIGINT)
                AS syy
        FROM lineitem
        GROUP BY l_returnflag
    )
    SELECT
        l_returnflag,
        n,
        CAST(round(
            (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
            / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                   * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
            * 1000000.0) AS BIGINT) AS corr_e6
    FROM m
    """,
    tags=("aggregate", "Q7", "statistics"),
)
def q07_corr_exact_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7f: Pearson correlation per group — exact moments, pinned formula.

    The built-in ``corr``/``covar_samp`` aggregates accumulate FLOAT
    co-moments whose partial-merge order differs between engines and
    between Spark partitionings — the same order-dependence that made
    q21_spend_trend_ols reject ``regr_slope``. The portable form: raw
    integer moments (n, Σx, Σy, Σxy, Σx², Σy² — exact, order-free,
    map-side combinable), then ONE closed-form float expression spelled
    identically on both engines. Quantity correlates against
    whole-dollar price (integer by construction; quantities are
    integral in the corpus).

    Scale shape: a single hash aggregate with map-side partials — the
    cheapest shape there is. Overflow headroom: Σy² terms stay < 2^63
    up to ~10^5 rows/group at these magnitudes; beyond that the moments
    column widens to DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) with the
    same formula — noted, not needed at test scale.
    """
    li = table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("bigint")
    y = F.round(F.col("l_extendedprice")).cast("bigint")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(x).cast("bigint").alias("sx"),
        F.sum(y).cast("bigint").alias("sy"),
        F.sum(x * y).cast("bigint").alias("sxy"),
        F.sum(x * x).cast("bigint").alias("sxx"),
        F.sum(y * y).cast("bigint").alias("syy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = F.sqrt(
        (nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        * (nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    )
    return m.select(
        "l_returnflag",
        "n",
        F.round(num / den * 1000000.0).cast("bigint").alias("corr_e6"),
    )


#: Count-Min sketch geometry: d hash rows x w cells, with fixed affine
#: hash constants (same literals on both engines — integer math only).
_CMS_P = 2147483647
_CMS_W = 512
_CMS_HASHES = (
    (1000003, 12345),
    (999983, 54321),
    (1000033, 777),
    (999979, 424242),
)
_CMS_TOP = 20

_CMS_CELLS_SQL = ", ".join(
    f"(({a} * k + {b}) % {_CMS_P}) % {_CMS_W} AS c{i}"
    for i, (a, b) in enumerate(_CMS_HASHES)
)


@register(
    "q07_cms_heavy_hitters",
    oracle=f"""
    WITH keys AS (SELECT l_partkey AS k FROM lineitem),
    cells AS (
        SELECT k, {_CMS_CELLS_SQL} FROM keys
    ),
    sketch AS (
        SELECT i, cell, CAST(count(*) AS BIGINT) AS cn
        FROM (
            {" UNION ALL ".join(
                f"SELECT {i} AS i, c{i} AS cell FROM cells"
                for i in range(len(_CMS_HASHES))
            )}
        )
        GROUP BY i, cell
    ),
    exact AS (
        SELECT k, CAST(count(*) AS BIGINT) AS exact_n
        FROM keys GROUP BY k
    ),
    top AS (
        SELECT k, exact_n,
               row_number() OVER (ORDER BY exact_n DESC, k ASC) AS rank
        FROM exact
        QUALIFY rank <= {_CMS_TOP}
    ),
    est AS (
        SELECT t.k, min(s.cn) AS cms_n
        FROM (SELECT k, {_CMS_CELLS_SQL} FROM top) t
        JOIN sketch s
          ON {" OR ".join(
               f"(s.i = {i} AND s.cell = t.c{i})"
               for i in range(len(_CMS_HASHES))
          )}
        GROUP BY t.k
    )
    SELECT
        CAST(top.rank AS BIGINT) AS rank,
        top.k AS partkey,
        top.exact_n,
        est.cms_n,
        est.cms_n - top.exact_n AS overcount
    FROM top JOIN est ON est.k = top.k
    """,
    tags=("aggregates", "Q7", "sketch"),
)
def q07_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7: Count-Min sketch frequency estimation with a built-in
    overcount audit — the mergeable-sketch class (beside Q8's
    approx_count_distinct HLL and Q7's exact heavy hitters).

    The sketch is a 4×512 (``len(_CMS_HASHES)`` × ``_CMS_W``) integer
    grid: each record increments one cell per hash row; a key's
    estimate is the MIN over its cells — never below the true count
    (one-sided error, ε ≈ e/w of total mass). The affine hashes
    ((a·k + b) mod p mod w) are fixed integer literals, so both engines
    build bit-identical sketches. The entry emits the exact top-20
    (``_CMS_TOP``) keys with exact
    count, CMS estimate, and the (always ≥0) overcount — the sketch
    auditing itself against the exact aggregate it would replace at
    scale, the x03_ann_recall_report pattern.

    Scale shape — WHY this beats the exact groupBy at 100 TB: the
    explode-then-count formulation partial-aggregates BEFORE the
    shuffle, and the partial-agg state per task is capped at d·w = 2048
    cells REGARDLESS of key cardinality — map-side combine IS the
    sketch merge (CMS is linear), so the exchange moves ≤ 2048 rows per
    task where the exact count shuffles every distinct key. The exact
    side here exists only as the audit baseline; candidate cells join
    the 2048-row sketch via broadcast.
    """
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("k")
    )
    cell_cols = [
        ((F.lit(a) * F.col("k") + F.lit(b)) % _CMS_P % _CMS_W).alias(
            f"c{i}"
        )
        for i, (a, b) in enumerate(_CMS_HASHES)
    ]
    cells = li.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"), cell_cols[i].alias("cell")
                    )
                    for i in range(len(_CMS_HASHES))
                ]
            )
        ).alias("h")
    )
    sketch = cells.groupBy(
        F.col("h.i").alias("i"), F.col("h.cell").alias("cell")
    ).agg(F.count("*").cast("bigint").alias("cn"))

    exact = li.groupBy("k").agg(
        F.count("*").cast("bigint").alias("exact_n")
    )
    # Distributed top-k (TakeOrderedAndProject) over the key-sized
    # relation, then rank over the surviving 20 rows — never an
    # un-partitioned window over every distinct key.
    w = Window.orderBy(F.col("exact_n").desc(), F.col("k").asc())
    top = (
        exact.orderBy(F.col("exact_n").desc(), F.col("k").asc())
        .limit(_CMS_TOP)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
    )
    probe = top.select(
        "k",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"), cell_cols[i].alias("cell")
                    )
                    for i in range(len(_CMS_HASHES))
                ]
            )
        ).alias("h"),
    ).select("k", F.col("h.i").alias("i"), F.col("h.cell").alias("cell"))
    est = (
        probe.join(F.broadcast(sketch), ["i", "cell"])
        .groupBy("k")
        .agg(F.min("cn").alias("cms_n"))
    )
    return (
        top.join(est, "k")
        .select(
            "rank",
            F.col("k").alias("partkey"),
            "exact_n",
            "cms_n",
            (F.col("cms_n") - F.col("exact_n")).alias("overcount"),
        )
    )


#: Histogram-quantile geometry: fixed bin count over the observed
#: integer-cents range (width chosen so the max lands in bin B-1).
_HQ_BINS = 256
_HQ_PCTS = (25, 50, 75, 90, 99)


@register(
    "q07_histogram_quantiles",
    oracle=f"""
    WITH c AS (
        SELECT CAST(round(l_extendedprice * 100.0) AS BIGINT) AS cents
        FROM lineitem
    ),
    b AS (
        SELECT min(cents) AS mn,
               CAST(count(*) AS BIGINT) AS n,
               (max(cents) - min(cents)) // {_HQ_BINS} + 1 AS width
        FROM c
    ),
    hist AS (
        SELECT (cents - (SELECT mn FROM b)) // (SELECT width FROM b)
                   AS bin,
               CAST(count(*) AS BIGINT) AS cnt
        FROM c GROUP BY 1
    ),
    cum AS (
        SELECT bin, CAST(sum(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum
        FROM hist
    ),
    tgt AS (
        SELECT pct,
               (pct * (SELECT n FROM b) + 99) // 100 AS target_rank
        FROM (SELECT unnest([{", ".join(str(p) for p in _HQ_PCTS)}])
                  AS pct)
    ),
    chosen AS (
        SELECT t.pct, t.target_rank, min(cu.bin) AS bin_id
        FROM tgt t JOIN cum cu ON cu.cum >= t.target_rank
        GROUP BY 1, 2
    )
    SELECT
        CAST(ch.pct AS INT) AS pct,
        CAST(ch.target_rank AS BIGINT) AS target_rank,
        CAST(ch.bin_id AS BIGINT) AS bin_id,
        (SELECT mn FROM b) + ch.bin_id * (SELECT width FROM b)
            AS bin_lo_cents,
        (SELECT mn FROM b) + (ch.bin_id + 1) * (SELECT width FROM b) - 1
            AS bin_hi_cents,
        cu.cum AS cum_at_bin,
        (SELECT n FROM b) AS n_total
    FROM chosen ch JOIN cum cu ON cu.bin = ch.bin_id
    """,
    tags=("aggregates", "Q7", "sketch", "quantile"),
)
def q07_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7: mergeable histogram quantile BRACKETS — the quantile-sketch
    class beside the CMS frequency sketch (the deterministic stand-in
    for t-digest/KLL, whose float centroids could never hash-match
    across engines).

    A 256-bin equi-width integer histogram over price cents:
    bin width is floor(range/256)+1, so the max lands in the
    last bin by construction and every boundary is exact integer
    arithmetic. For each target percentile the entry emits the rank it
    must bracket (ceil(pct·N/100) in pure integer math), the first bin
    whose running count reaches it, and that bin's closed [lo, hi]
    cents bounds — a quantile ESTIMATE with a hard ±width guarantee
    (the true rank-r value provably lies inside the bracket;
    ``tests/test_round8_ops.py`` pins that against a Python
    rank-select). No float exists anywhere in the operator.

    Scale shape — the same merge law as the CMS twin: the histogram's
    partial-agg state is ≤ 256 cells per task at ANY data size
    (histogram-of-union = cell-wise sum), so the exchange moves bins,
    not values; the cumulative window and the 5-row percentile probe
    run over the ≤256-row histogram (the calendar-bounded-window
    discipline); the bounds row broadcasts into the binning scan. Two
    fact passes total (bounds, then binning) — the streaming variant
    fixes the domain a priori and takes one.
    """
    li = table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100.0)
        .cast("bigint")
        .alias("cents")
    )
    b = li.agg(
        F.min("cents").alias("mn"),
        ((F.max("cents") - F.min("cents")) / _HQ_BINS)
        .cast("bigint")
        .alias("w0"),
        F.count("*").cast("bigint").alias("n"),
    ).select("mn", (F.col("w0") + 1).alias("width"), "n")
    hist = (
        li.join(F.broadcast(b))
        .select(
            ((F.col("cents") - F.col("mn")) / F.col("width"))
            .cast("bigint")
            .alias("bin")
        )
        .groupBy("bin")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    wcum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "bin", F.sum("cnt").over(wcum).cast("bigint").alias("cum")
    )
    tgt = b.select(
        F.explode(F.array(*[F.lit(p) for p in _HQ_PCTS])).alias("pct"),
        "mn",
        "width",
        "n",
    ).select(
        F.col("pct").cast("int").alias("pct"),
        ((F.col("pct") * F.col("n") + 99) / 100)
        .cast("bigint")
        .alias("target_rank"),
        "mn",
        "width",
        "n",
    )
    chosen = (
        tgt.join(F.broadcast(cum), F.col("cum") >= F.col("target_rank"))
        .groupBy("pct", "target_rank", "mn", "width", "n")
        .agg(F.min(F.struct("bin", "cum")).alias("sel"))
    )
    return chosen.select(
        "pct",
        "target_rank",
        F.col("sel.bin").alias("bin_id"),
        (F.col("mn") + F.col("sel.bin") * F.col("width")).alias(
            "bin_lo_cents"
        ),
        (
            F.col("mn")
            + (F.col("sel.bin") + 1) * F.col("width")
            - 1
        ).alias("bin_hi_cents"),
        F.col("sel.cum").alias("cum_at_bin"),
        F.col("n").alias("n_total"),
    )
