"""Join operators: the star-schema query surface (SURVEY §2.2 Q10-Q11).

The reference delegates its entire warehouse-query role to Athena/Redshift
(reference ``README.md:21``); these operators own that role natively:
inner/outer/semi/anti equi-joins over the corpus star schema, an explicit
broadcast-dim join, a non-equi banding join, and an as-of join.

Scale notes (100 TB design point):
- Fact⋈fact joins (orders⋈lineitem) shuffle on the join key; AQE picks
  sort-merge vs shuffled-hash at runtime and splits skewed keys
  (``session.RUNTIME_CONFS``). On a managed lake both facts would be
  bucketed by orderkey so this join is co-located and shuffle-free.
- Dim tables (region/nation/supplier/part — ``tables.BROADCASTABLE``)
  are broadcast explicitly: the fact side never shuffles for them.
- The banding join broadcasts the tiny bands relation → BroadcastNestedLoop
  over a 5-row build side, the only sane plan for a pure range predicate.
- The as-of join deliberately avoids the range-join + dedupe formulation
  (which explodes to |A|·|matching B| intermediates on hot keys): the
  union + last(ignorenulls) window trick computes it in ONE shuffle by
  key with zero intermediate blowup — the plan that survives 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.numeric import dround
from ..registry import register
from ..tables import _user_order, register_views, table


@register(
    "q10_join_inner_star",
    oracle="""
    SELECT
        n.n_name AS nation,
        CAST(year(o.o_orderdate) AS INT) AS order_year,
        count(*) AS n_items,
        round(sum(l.l_extendedprice * (1 - l.l_discount)) * 100.0) / 100.0
            AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
    GROUP BY 1, 2
    """,
    tags=("joins", "Q10"),
)
def q10_join_inner_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-way star join (TPC-H Q5 shape): facts shuffle, dims broadcast.

    lineitem⋈orders is the one genuine shuffle; customer/nation/region
    ride in as broadcasts so the fact stream is never repartitioned for
    them. The region filter lands on the 5-row build side — Catalyst
    prunes it before the broadcast.
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    # customer scales with the facts (NOT in BROADCASTABLE) so it gets no
    # forced hint: below the 64 MB threshold it auto-broadcasts, beyond
    # it AQE picks the shuffle join. Forcing it would OOM at sf100.
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("order_year"),
        )
        .agg(
            F.count("*").alias("n_items"),
            dround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue"),
        )
    )


@register(
    "q10_join_left_outer",
    oracle="""
    SELECT
        c.c_custkey,
        c.c_name,
        count(o.o_orderkey) AS n_urgent_orders,
        CAST(coalesce(sum(CAST(round(o.o_totalprice * 100.0) AS BIGINT)),
                      0) AS BIGINT) AS urgent_spend_cents
    FROM customer c
    LEFT JOIN (
        SELECT * FROM orders WHERE o_orderpriority = '1-URGENT'
    ) o ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
    """,
    tags=("joins", "Q10"),
)
def q10_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving unmatched customers (zero urgent orders).

    The urgent filter is applied BEFORE the join (filter-then-join, not
    join-then-filter — the latter would silently turn the outer join into
    an inner one and also move the filter off the pushdown path).

    Spend is summed as integer CENTS (round each price once, then an
    exact BIGINT sum), not as a rounded double sum: a high-order-count
    customer makes the float summation ORDER diverge between engines at
    the last ulp, which flips the final cent when the true sum sits on a
    half-cent boundary (found by the adversarial-corpus sweep — a whale
    customer with 300 orders of x.xx5 prices; the committed fixtures
    never exceed a handful of orders per customer).
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_urgent_orders"),
            F.coalesce(
                F.sum(F.round(F.col("o_totalprice") * 100.0).cast("bigint")),
                F.lit(0),
            )
            .cast("bigint")
            .alias("urgent_spend_cents"),
        )
    )


@register(
    "q10_join_full_outer",
    oracle="""
    WITH y95 AS (
        SELECT o_custkey, round(sum(o_totalprice) * 100.0) / 100.0 AS spend_1995
        FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1
    ),
    y96 AS (
        SELECT o_custkey, round(sum(o_totalprice) * 100.0) / 100.0 AS spend_1996
        FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1
    )
    SELECT
        coalesce(y95.o_custkey, y96.o_custkey) AS custkey,
        coalesce(y95.spend_1995, 0.0) AS spend_1995,
        coalesce(y96.spend_1996, 0.0) AS spend_1996
    FROM y95 FULL OUTER JOIN y96 ON y95.o_custkey = y96.o_custkey
    """,
    tags=("joins", "Q10"),
)
def q10_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two yearly spend aggregates.

    Aggregate-then-join: each side is reduced to ≤|customers| rows before
    the join, so the full-outer shuffle moves grouped rows, not raw
    orders — the order-of-magnitude saver at 100 TB.
    """
    o = table(spark, sf_dir, "orders")

    def yearly(year: int, alias: str) -> DataFrame:
        return (
            o.filter(F.year("o_orderdate") == year)
            .groupBy("o_custkey")
            .agg(dround(F.sum("o_totalprice")).alias(alias))
        )

    y95 = yearly(1995, "spend_1995").withColumnRenamed("o_custkey", "k95")
    y96 = yearly(1996, "spend_1996").withColumnRenamed("o_custkey", "k96")
    return y95.join(y96, y95.k95 == y96.k96, "full").select(
        F.coalesce(F.col("k95"), F.col("k96")).alias("custkey"),
        F.coalesce(F.col("spend_1995"), F.lit(0.0)).alias("spend_1995"),
        F.coalesce(F.col("spend_1996"), F.lit(0.0)).alias("spend_1996"),
    )


@register(
    "q10_join_semi",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderpriority = '1-URGENT'
          AND o.o_totalprice > 100000.0
    )
    """,
    tags=("joins", "Q10"),
)
def q10_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join: customers with ≥1 big urgent order (EXISTS).

    Semi joins never duplicate the probe side, so no post-join distinct
    is needed — the physical plan short-circuits on first match.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 100000.0)
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "q10_join_anti",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderpriority = '1-URGENT'
    )
    """,
    tags=("joins", "Q10"),
)
def q10_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join: customers with NO urgent orders (NOT EXISTS).

    The R16 idempotency primitive in disguise — anti join against
    already-loaded keys is how an incremental loader skips duplicates.
    """
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@register(
    "q10_join_broadcast_dims",
    oracle="""
    SELECT
        s.s_suppkey,
        s.s_name,
        n.n_name AS nation,
        r.r_name AS region
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
    tags=("joins", "Q10", "broadcast"),
)
def q10_join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast-hint dim join (plan asserted in tests).

    nation and region are in ``tables.BROADCASTABLE``: the physical plan
    must be two BroadcastHashJoins with supplier streaming through — no
    shuffle at any SF. ``tests/test_join_plans.py`` asserts it.
    """
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
        )
    )


@register(
    "q17_adhoc_sql_correlated",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey,
           round(o.o_totalprice * 100.0) / 100.0 AS o_totalprice
    FROM orders o
    WHERE o.o_totalprice > 2.0 * (
        SELECT avg(o2.o_totalprice) FROM orders o2
        WHERE o2.o_custkey = o.o_custkey
    )
    """,
    tags=("joins", "R17", "subquery"),
)
def q17_adhoc_sql_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R17 ad-hoc SQL surface: a correlated scalar subquery via ``spark.sql``.

    Exercises the engine's Athena-role entry point end-to-end: corpus
    registered as views, raw SQL in, Catalyst de-correlates the subquery
    into an aggregate + join (one scan of orders per side — check the
    plan: no per-row re-execution, which is what a naive engine does and
    what kills this query at scale).
    """
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_custkey,
               round(o.o_totalprice * 100.0) / 100.0 AS o_totalprice
        FROM orders o
        WHERE o.o_totalprice > 2.0 * (
            SELECT avg(o2.o_totalprice) FROM orders o2
            WHERE o2.o_custkey = o.o_custkey
        )
        """
    )


@register(
    "q11_range_join_bands",
    oracle="""
    WITH bands(band_id, lo, hi) AS (
        VALUES (0, 0.0, 100.0), (1, 100.0, 200.0), (2, 200.0, 300.0),
               (3, 300.0, 400.0), (4, 400.0, 500.0)
    )
    SELECT
        b.band_id,
        count(*) AS n_events,
        round(sum(e.value) * 100.0) / 100.0 AS band_value
    FROM events e
    JOIN bands b ON e.value >= b.lo AND e.value < b.hi
    GROUP BY 1
    """,
    tags=("joins", "Q11", "range"),
)
def q11_range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi range join: bucket events into value bands.

    A pure range predicate has no hash key; the only scale-sane plan is
    BroadcastNestedLoopJoin with the 5-row bands relation as the build
    side. (With a large band table you'd equi-join on a computed bucket
    id instead — that variant is exactly ``floor(value/100)``, covered by
    the aggregate battery.)
    """
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bands = spark.range(5).select(
        F.col("id").cast("int").alias("band_id"),
        (F.col("id") * 100.0).alias("lo"),
        ((F.col("id") + 1) * 100.0).alias("hi"),
    )
    return (
        ev.join(
            F.broadcast(bands),
            (ev.value >= bands.lo) & (ev.value < bands.hi),
        )
        .groupBy("band_id")
        .agg(
            F.count("*").alias("n_events"),
            dround(F.sum("value")).alias("band_value"),
        )
    )


@register(
    "q11_asof_join",
    oracle="""
    WITH clicks AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        FROM events WHERE event_type = 'click'
    ),
    purchases AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
               coalesce(value, 0.0) AS value
        FROM events WHERE event_type = 'purchase'
    )
    SELECT
        p.event_id,
        p.user_id,
        p.ts,
        round(p.value * 100.0) / 100.0 + 0.0 AS purchase_value,
        c.ts AS last_click_ts
    FROM purchases p
    LEFT JOIN clicks c
      ON c.user_id = p.user_id
     AND (c.ts < p.ts OR (c.ts = p.ts AND c.event_id < p.event_id))
    QUALIFY row_number() OVER (
        PARTITION BY p.event_id ORDER BY c.ts DESC, c.event_id DESC
    ) = 1
    """,
    tags=("joins", "Q11", "asof"),
)
def q11_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest prior click.

    Implemented with the union + last(ignorenulls) window trick, NOT a
    range join + dedupe: both streams are unioned, shuffled ONCE by
    user_id, sorted by (ts, event_id), and the running last non-null
    click timestamp is carried forward. A range-join formulation would
    materialize |purchases|·|prior clicks| rows per user before deduping
    — quadratic on hot users; this plan is strictly linear.
    """
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    is_click = F.col("event_type") == "click"
    w = _user_order(Window.unboundedPreceding)
    enriched = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.coalesce(F.col("value"), F.lit(0.0)).alias("value"),
        F.when(is_click, F.col("ts")).alias("click_ts"),
    ).withColumn(
        # NULL-key guard: equi-join semantics (the oracle's LEFT JOIN ON
        # c.user_id = p.user_id) never match NULL keys, but the window
        # partition groups NULL users together — an anonymous purchase
        # must NOT inherit an anonymous click (round-10 NULL-user
        # hostile-corpus class).
        "last_click_ts",
        F.when(
            F.col("user_id").isNotNull(),
            F.last("click_ts", ignorenulls=True).over(w),
        ),
    )
    return (
        enriched.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "ts",
            dround(F.col("value")).alias("purchase_value"),
            # A purchase's own click_ts is null, so last() at the current
            # row is the latest click at-or-before it in (ts, event_id)
            # order — exactly the as-of contract.
            "last_click_ts",
        )
    )


@register(
    "q10_star_report",
    oracle="""
    WITH rev AS (
        SELECT
            n.n_name AS nation,
            c.c_custkey AS custkey,
            c.c_name AS customer,
            sum(l.l_extendedprice * (1 - l.l_discount)) AS raw_rev
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= DATE '1996-01-01'
        GROUP BY 1, 2, 3
    )
    SELECT nation, custkey, customer, revenue, rank
    FROM (
        SELECT nation, custkey, customer,
               round(raw_rev * 100.0) / 100.0 AS revenue,
               row_number() OVER (
                   PARTITION BY nation
                   ORDER BY round(raw_rev * 100.0) / 100.0 DESC, custkey ASC
               ) AS rank
        FROM rev
    )
    WHERE rank <= 3
    """,
    tags=("joins", "windows", "Q10", "Q13", "report"),
)
def q10_star_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite reporting query: top-3 customers by revenue per nation.

    The end-to-end warehouse shape (the Redshift/Athena role R17 in one
    statement): date-filtered fact scan → star join → revenue aggregate →
    per-group window top-k. Execution-wise: the date predicate pushes to
    the orders scan, lineitem⋈orders is the one real shuffle, nation
    broadcasts, the aggregate combines map-side on (nation, customer),
    and the final rank runs over |nations × customers| aggregated rows —
    WindowGroupLimit prunes to 3 per nation during the sort. The rank
    orders by the ROUNDED revenue (cent precision, custkey tiebreak):
    raw double sums depend on summation order, which differs between
    engines and across partitionings — ranking on them would make top-3
    membership flaky at ulp-close boundaries.
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("date")
    )
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("customer"),
        )
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "raw_rev"
            )
        )
    )
    rev = rev.withColumn("revenue", dround(F.col("raw_rev")))
    w = Window.partitionBy("nation").orderBy(
        F.col("revenue").desc(), F.col("custkey").asc()
    )
    return (
        rev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("nation", "custkey", "customer", "revenue", "rank")
    )


@register(
    "q10_local_supplier_volume",
    oracle="""
    SELECT
        n.n_name AS nation,
        CAST(count(*) AS BIGINT) AS n_lineitems,
        round(sum(l.l_extendedprice * (1 - l.l_discount)) * 100.0) / 100.0
            AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
        AND s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1
    """,
    tags=("joins", "Q10", "tpch"),
)
def q10_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 topology: local supplier volume (6-table star join).

    The one join shape the rest of the Q10 battery lacks: TWO dimension
    paths out of the fact table (lineitem→orders→customer→nation and
    lineitem→supplier→nation) that must MEET — customer nation ==
    supplier nation — before rolling up revenue per nation for one
    region's 1996 orders. In the reference's warehouse role this is the
    canonical Athena/Redshift report join (SURVEY §2.2 R17).

    Scale shape: every dimension (customer, supplier, nation, region)
    broadcasts; the fact table is scanned once with the date predicate
    pushed into the orders-side join input and never shuffled — the
    nation-equality meet happens as a cheap post-join filter on two
    broadcast-provided columns, not a second fact shuffle. Region
    pre-filters nation via DPP-style broadcast semi-reduction at plan
    time (nation is 25 rows; the filter composes before broadcast).
    """
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    customer = table(spark, sf_dir, "customer")
    supplier = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(
            F.broadcast(asia_nations),
            customer.c_nationkey == F.col("n_nationkey"),
        )
        .filter(F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return joined.groupBy(F.col("n_name").alias("nation")).agg(
        F.count("*").cast("bigint").alias("n_lineitems"),
        dround(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        ).alias("revenue"),
    )


@register(
    "q11_asof_tolerance",
    oracle="""
    WITH clicks AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        FROM events WHERE event_type = 'click'
    ),
    purchases AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        FROM events WHERE event_type = 'purchase'
    ),
    matched AS (
        SELECT
            p.event_id,
            p.user_id,
            p.ts,
            c.ts AS click_ts,
            epoch_us(p.ts) - epoch_us(c.ts) AS staleness_us
        FROM purchases p
        LEFT JOIN clicks c
          ON c.user_id = p.user_id
         AND (c.ts < p.ts OR (c.ts = p.ts AND c.event_id < p.event_id))
        QUALIFY row_number() OVER (
            PARTITION BY p.event_id ORDER BY c.ts DESC, c.event_id DESC
        ) = 1
    )
    SELECT
        event_id,
        user_id,
        ts,
        CASE WHEN staleness_us <= 3600000000 THEN click_ts END
            AS fresh_click_ts,
        CASE WHEN staleness_us <= 3600000000
             THEN CAST(staleness_us // 1000000 AS BIGINT) END
            AS staleness_s
    FROM matched
    """,
    tags=("joins", "Q11", "asof", "feature-store"),
)
def q11_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11c: as-of join with a max-staleness tolerance — the feature-store
    point-in-time-correct lookup.

    Training-data joins must be point-in-time correct (no feature from
    the future) AND freshness-bounded (a click from last month is not a
    valid "recent context" feature). This is the plain as-of contract
    (q11_asof_join) plus a tolerance: matches older than 1 hour are
    nulled rather than silently used, and the surviving match carries
    its staleness in seconds — the column a feature-quality monitor
    alerts on.

    Same union + last(ignorenulls) single-exchange plan as the base
    as-of (linear, never the quadratic range-join materialization);
    the tolerance is a post-window projection, costing nothing. The
    staleness compare runs on exact epoch microseconds; the emitted
    seconds use positive integer division, identical in both engines.
    """
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    is_click = F.col("event_type") == "click"
    w = _user_order(Window.unboundedPreceding)
    enriched = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(is_click, F.col("ts")).alias("click_ts"),
    ).withColumn(
        # same NULL-key guard as q11_asof_join: the oracle's equi-join
        # never matches NULL user_ids
        "last_click_ts",
        F.when(
            F.col("user_id").isNotNull(),
            F.last("click_ts", ignorenulls=True).over(w),
        ),
    )
    staleness_us = F.unix_micros("ts") - F.unix_micros("last_click_ts")
    fresh = staleness_us <= 3600 * 1_000_000
    return (
        enriched.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.when(fresh, F.col("last_click_ts")).alias("fresh_click_ts"),
            F.when(fresh, F.expr("(unix_micros(ts) - unix_micros(last_click_ts)) div 1000000"))
            .cast("bigint")
            .alias("staleness_s"),
        )
    )


@register(
    "q10_join_null_safe",
    oracle="""
    WITH fact AS (
        SELECT l_orderkey, l_linenumber,
               nullif(l_returnflag, 'N') AS flag
        FROM lineitem
    ),
    dim(flag, label) AS (
        VALUES ('A', 'accepted'), ('R', 'returned'), (NULL, 'no-flag')
    )
    SELECT
        d.label,
        CAST(count(*) AS BIGINT) AS n_rows,
        CAST(min(f.l_orderkey) AS BIGINT) AS min_orderkey
    FROM fact f
    JOIN dim d ON f.flag IS NOT DISTINCT FROM d.flag
    GROUP BY d.label
    """,
    tags=("joins", "Q10", "null-safe"),
)
def q10_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10j: null-safe equality join (``<=>`` / IS NOT DISTINCT FROM).

    Plain equi-joins silently DROP null-keyed rows — the classic silent
    data loss when a dimension key is optional (here ``l_returnflag``
    nulled for the 'N' majority via ``nullif``). The null-safe operator
    treats NULL as a joinable value, so the 'no-flag' dim row picks
    those rows up instead of losing them; row counts then reconcile to
    the fact table exactly — the audit property a pipeline asserts.

    Scale shape: the 3-row dim broadcasts; Spark's ``eqNullSafe``
    compiles to the same hash-join path as ``=`` (null hashes to a
    bucket like any value), so the null-safe semantics cost nothing.
    """
    fact = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.nullif(F.col("l_returnflag"), F.lit("N")).alias("flag"),
    )
    dim = spark.createDataFrame(
        [("A", "accepted"), ("R", "returned"), (None, "no-flag")],
        "flag string, label string",
    )
    return (
        fact.join(F.broadcast(dim), fact["flag"].eqNullSafe(dim["flag"]))
        .groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("l_orderkey").cast("bigint").alias("min_orderkey"),
        )
    )


@register(
    "q11_interval_overlap",
    oracle="""
    WITH ev AS (
        SELECT user_id, event_type AS etype, CAST(ts AS TIMESTAMP) AS ts,
               CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d
        FROM events
    ),
    ua AS (
        SELECT user_id, d, min(ts) AS s, max(ts) AS e
        FROM ev GROUP BY user_id, d
    ),
    ti AS (
        SELECT etype, d, min(ts) AS s2, max(ts) AS e2
        FROM ev GROUP BY etype, d
    ),
    ub AS (
        SELECT user_id, d, s, e, unnest(generate_series(
                   hour(s), hour(e))) AS hb
        FROM ua
    ),
    tb AS (
        SELECT etype, d, s2, e2, unnest(generate_series(
                   hour(s2), hour(e2))) AS hb
        FROM ti
    ),
    cand AS (
        SELECT DISTINCT ub.user_id, tb.etype, ub.d,
               ub.s, ub.e, tb.s2, tb.e2
        FROM ub JOIN tb ON ub.d = tb.d AND ub.hb = tb.hb
    ),
    hits AS (
        SELECT etype, d,
               user_id,
               (epoch_us(least(e, e2)) - epoch_us(greatest(s, s2)))
                   // 1000000 AS overlap_s
        FROM cand
        WHERE s <= e2 AND s2 <= e
    )
    SELECT
        etype,
        d,
        CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        CAST(sum(overlap_s) AS BIGINT) AS total_overlap_seconds
    FROM hits
    GROUP BY etype, d
    """,
    tags=("joins", "Q11", "interval", "R17"),
)
def q11_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11: interval-overlap join via hour BANDING — the third interval
    rung beside the as-of join (point-to-latest) and range bands
    (point-to-bucket): INTERVAL x INTERVAL overlap, the predicate
    behind incident impact ("which users' activity windows overlapped
    which incident windows, and for how long").

    A naive formulation is a non-equi theta join (cross product +
    range filter — unshuffleable, unusable at scale). The scale
    discipline is BANDING: each interval explodes into the hour bands
    it covers, candidates join EQUI on (day, band) — hash-partitioned
    like any other join — duplicates from multi-band matches collapse
    before verification, and the exact closed-interval predicate
    (s <= e2 AND s2 <= e) filters band-mates that never overlap.
    Correctness of the band set: two same-day intervals that overlap
    share the hour band of max(starts), so no true pair is lost.

    Overlap duration is exact integer arithmetic end-to-end: epoch
    microseconds subtracted, floor-divided to whole seconds — no
    float time math.

    Scale shape: both interval relations are AGGREGATES (user-day and
    type-day bounds), orders of magnitude smaller than the event
    stream; band fan-out is bounded by 24/interval/day; the candidate
    join is equi on (d, band); the final rollup reuses the
    (etype, d)-keyed layout. At 100 TB the band width is the knob
    (wider bands = fewer candidate rows per interval, more
    verification work — same plan).
    """
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_type").alias("etype"),
        F.col("ts"),
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("d"),
    )
    ua = ev.groupBy("user_id", "d").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    ti = ev.groupBy("etype", "d").agg(
        F.min("ts").alias("s2"), F.max("ts").alias("e2")
    )
    ub = ua.select(
        "user_id",
        "d",
        "s",
        "e",
        F.explode(
            F.sequence(F.hour("s"), F.hour("e"))
        ).alias("hb"),
    )
    tb = ti.select(
        "etype",
        "d",
        "s2",
        "e2",
        F.explode(
            F.sequence(F.hour("s2"), F.hour("e2"))
        ).alias("hb"),
    )
    cand = (
        ub.join(tb, ["d", "hb"])
        .select("user_id", "etype", "d", "s", "e", "s2", "e2")
        .dropDuplicates(["user_id", "etype", "d"])
    )
    hits = cand.filter(
        (F.col("s") <= F.col("e2")) & (F.col("s2") <= F.col("e"))
    ).select(
        "etype",
        "d",
        "user_id",
        F.floor(
            (
                F.unix_micros(F.least("e", "e2"))
                - F.unix_micros(F.greatest("s", "s2"))
            )
            / 1_000_000
        )
        .cast("bigint")
        .alias("overlap_s"),
    )
    return hits.groupBy("etype", "d").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.sum("overlap_s").cast("bigint").alias("total_overlap_seconds"),
    )


@register(
    "q10_bloom_prune",
    oracle="""
    SELECT
        n.n_name AS nation,
        CAST(count(*) AS BIGINT) AS n_lineitems,
        round(sum(l.l_extendedprice * (1 - l.l_discount)) * 100.0) / 100.0
            AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'EUROPE'
    GROUP BY 1
    """,
    tags=("joins", "Q10", "bloom", "runtime-filter"),
)
def q10_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10: a selective star join whose fact scan meets only broadcasts.

    EUROPE suppliers (about 1/5 of ``supplier``) with their nation name
    form the dimension, broadcast into one hash join with ``lineitem``:
    the fact table never shuffles, and the only Exchange is the
    nation rollup (at most 25 groups). A Bloom pre-filter on the fact side
    pays only when the dimension is too large to broadcast; Spark's
    runtime bloom filter (``spark.sql.optimizer.runtime.bloomFilter.*``)
    covers that case on shuffle joins, and
    ``tests/test_plans.py::test_runtime_bloom_filter_reaches_fact_side``
    pins it.
    """
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    dim = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter(F.col("r_name") == "EUROPE")
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    star = li.join(F.broadcast(dim), li.l_suppkey == dim.s_suppkey)
    return star.groupBy("nation").agg(
        F.count("*").cast("bigint").alias("n_lineitems"),
        dround(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        ).alias("revenue"),
    )
