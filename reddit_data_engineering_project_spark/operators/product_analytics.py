"""Product-analytics query patterns (reference R17 warehouse role).

The workhorse analyses every Athena/Redshift deployment over an
events stream runs — expressed as single-scan Spark plans:

- Funnel conversion (view → click → purchase): per-user conditional-min
  first-touch times in ONE hash aggregate, ordering checks as column
  expressions, then a global roll-up. No self-joins — the classic
  N-way-join funnel formulation touches the fact table once per step;
  this shape touches it once, full stop.
- Cohort retention: first-seen day per user ⋈ distinct activity days →
  (cohort, day-offset) matrix. Two aggregates and one user-keyed join;
  the join is on the natural shuffle key (user_id), so at 100 TB it
  co-partitions with the activity dedup rather than adding an exchange.
- Event-transition matrix: one user-keyed window pass, then a
  |event types|² aggregate — the Markov/journey building block.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..functions.numeric import dround
from ..registry import register
from ..tables import (
    _NEW_SESSION_SQL,
    _SESSION_SEQ_SQL,
    _new_session,
    _session_seq,
    _user_order,
    _user_order_sql,
    table,
)
from .timeseries import (
    _EWMA_COLS,
    _EWMA_E2_SQL,
    _EWMA_LAGS_SQL,
    _ewma_e2,
    _ewma_lags,
)


@register(
    "q21_funnel_conversion",
    oracle="""
    WITH firsts AS (
        SELECT
            user_id,
            min(CASE WHEN event_type = 'view'
                     THEN CAST(ts AS TIMESTAMP) END) AS t_view,
            min(CASE WHEN event_type = 'click'
                     THEN CAST(ts AS TIMESTAMP) END) AS t_click,
            min(CASE WHEN event_type = 'purchase'
                     THEN CAST(ts AS TIMESTAMP) END) AS t_buy
        FROM events
        GROUP BY user_id
    )
    SELECT
        count(*) AS n_users,
        count(*) FILTER (WHERE t_view IS NOT NULL) AS n_view,
        count(*) FILTER (WHERE t_view IS NOT NULL AND t_click > t_view)
            AS n_view_click,
        count(*) FILTER (WHERE t_view IS NOT NULL AND t_click > t_view
                           AND t_buy > t_click) AS n_converted
    FROM firsts
    """,
    tags=("analytics", "funnel", "R17"),
)
def q21_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users whose FIRST view precedes their first click
    precedes their first purchase.

    One scan → one per-user conditional-min aggregate → one 1-row
    roll-up. Strict ordering on first-touch times (a click before any
    view does not count) — the standard time-ordered funnel definition.
    """
    ev = table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_buy"),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & (F.col("t_click") > F.col("t_view"))
    converted = clicked & (F.col("t_buy") > F.col("t_click"))
    return firsts.agg(
        F.count("*").alias("n_users"),
        F.count(F.when(viewed, 1)).alias("n_view"),
        F.count(F.when(clicked, 1)).alias("n_view_click"),
        F.count(F.when(converted, 1)).alias("n_converted"),
    )


@register(
    "q21_cohort_retention",
    oracle="""
    WITH activity AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d
        FROM events
    ),
    cohorts AS (
        SELECT user_id, min(d) AS cohort_day FROM activity GROUP BY user_id
    )
    SELECT
        c.cohort_day,
        (a.d - c.cohort_day) AS day_offset,
        count(*) AS n_active
    FROM activity a JOIN cohorts c ON a.user_id = c.user_id
    GROUP BY 1, 2
    """,
    tags=("analytics", "cohort", "R17"),
)
def q21_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users first seen on day D active D+k later.

    Activity is deduped to (user, day) first — the count is then a plain
    ``count(*)``, not a count-distinct, and the matrix is |cohorts × max
    offset| rows regardless of event volume. Both aggregates and the
    join share the user_id shuffle key.
    """
    ev = table(spark, sf_dir, "events")
    activity = ev.select(
        "user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("d")
    ).dropDuplicates(["user_id", "d"])
    cohorts = activity.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    return (
        activity.join(cohorts, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("d"), F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.count("*").alias("n_active"))
    )


def _transitions(ev: DataFrame) -> DataFrame:
    """``(prev_type, next_type, n)``: counts of each user's consecutive
    event-type pairs in contract order (twin of ``_TRANSITIONS_SQL``)."""
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(_user_order()))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )


_TRANSITIONS_SQL = f"""transitions AS (
        SELECT prev_type, event_type AS next_type, count(*) AS n
        FROM (
            SELECT event_type,
                   lag(event_type) OVER ({_user_order_sql()}) AS prev_type
            FROM events
        )
        WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    )"""


@register(
    "q21_event_transitions",
    oracle=f"WITH {_TRANSITIONS_SQL} SELECT * FROM transitions",
    tags=("analytics", "transitions", "R17", "Q13"),
)
def q21_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-transition matrix: counts of consecutive (prev → next) pairs
    per user stream — the journey/Markov-chain building block.

    One shuffle by user_id, per-user sort by (ts, event_id) — event_id
    is unique, so the order (and therefore every lag pair) is fully
    deterministic — then a tiny (|event types|²) aggregate.
    """
    return _transitions(table(spark, sf_dir, "events"))


@register(
    "q21_dau_wau_stickiness",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        FROM events
    ),
    dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
    contrib AS (
        SELECT DISTINCT user_id, day + gs.i::INTEGER AS day
        FROM ud CROSS JOIN LATERAL (SELECT unnest(range(0, 7)) AS i) gs
    ),
    wau AS (SELECT day, count(*) AS wau FROM contrib GROUP BY day)
    SELECT d.day, d.dau, w.wau,
           round((d.dau::DOUBLE / w.wau) * 10000.0) / 10000.0 + 0.0
               AS stickiness
    FROM dau d JOIN wau w USING (day)
    """,
    tags=("product", "Q21", "growth"),
)
def q21_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21d: growth accounting — DAU, trailing-7-day WAU, stickiness.

    The standard engagement triple. The WAU formulation matters at
    scale: a naive "count distinct users over a 7-day range window" is a
    per-day self-join (7× the fact scan, or an unbounded-state window).
    Instead each (user, day) activity row CONTRIBUTES to the 7 window
    ends it can influence (day .. day+6) via a `sequence` explode, and
    WAU(d) is a plain distinct-count of contributors at day d — the
    standard fan-out-then-aggregate rewrite that turns a sliding
    distinct window into two hash shuffles with map-side combine,
    no self-join, state bounded by |users ∩ window| per day.

    Early days carry partial (shorter) windows; both engines compute the
    same partial-window values, so the hash pins that semantic too.

    Scale shape: events → (user, day) dedup is one shuffle on a
    high-cardinality composite; the 7× explode happens AFTER dedup (7
    rows per user-day, not per event); both day-keyed aggregates have
    |days| groups with map-side combine. Stickiness is a final
    1-row-per-day arithmetic projection.
    """
    ev = table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).dropDuplicates(["user_id", "day"])
    dau = ud.groupBy("day").agg(F.count("*").alias("dau"))
    contrib = (
        ud.select(
            "user_id",
            F.explode(
                F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
            ).alias("day"),
        )
        .dropDuplicates(["user_id", "day"])
    )
    wau = contrib.groupBy("day").agg(F.count("*").alias("wau"))
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        dround(F.col("dau").cast("double") / F.col("wau"), 4).alias(
            "stickiness"
        ),
    )


# --- The co-purchase graph ---------------------------------------------
#
# Eight entries read one graph. Its nodes are parts; an edge joins two
# parts bought together in at least ``_BASKET_MIN_PAIR_ORDERS`` orders
# (the support floor). It comes in two shapes: the HALF list, one
# ``src < dst`` row per edge (:func:`_copurchase_half_edges`, the
# oracle's ``half``), and the MIRRORED list, each edge in both
# directions (:func:`_copurchase_edges`, the oracle's ``edges``).
# Spark enumerates the pairs from sorted per-order baskets
# (:func:`_basket_pairs`); the oracle spells the self-join
# (:data:`_COPURCHASE_SQL`). Entries that guard against hubs cap node
# degree at the p95 of the degree HISTOGRAM (:func:`_degree_cap`,
# :data:`_DEGREE_CAP_SQL`): the cumulative window runs over distinct
# degree values (≪ nodes, so its single-partition stage stays small at
# any scale), the threshold ``cum * 100 >= n * PCT`` stays in exact
# integer math on both engines, and the 1-row cap joins back as a
# broadcast. Every output is an exact integer or an e-scaled BIGINT,
# so the hash compare is structural.

#: The support floor: only pairs co-purchased in >= 2 orders are edges
#: (it keeps the rule set, not the pair explosion, as the output).
_BASKET_MIN_PAIR_ORDERS = 2

#: Hub cap: nodes above this degree percentile stop being reach2 middles
#: and capped Adamic-Adar wedge centers (integer percent, see above).
_DEGREE_CAP_PCT = 95

#: The graph in oracle SQL, composed after ``WITH`` like
#: ``dedup._OVERLAP_SQL``: ``li`` (distinct order lines), ``half`` (with
#: each pair's ``pair_orders``) and ``edges``.
_COPURCHASE_SQL = f"""li AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    half AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst,
               count(*) AS pair_orders
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= {_BASKET_MIN_PAIR_ORDERS}
    ),
    edges AS (
        SELECT src, dst FROM half
        UNION ALL
        SELECT dst AS src, src AS dst FROM half
    )"""

#: The p95 cap in oracle SQL: reads a ``deg`` relation with a ``deg``
#: column and yields the 1-row ``cap``.
_DEGREE_CAP_SQL = f"""hist AS (
        SELECT deg, CAST(count(*) AS BIGINT) AS cnt FROM deg GROUP BY 1
    ),
    cum AS (
        SELECT
            deg,
            CAST(sum(cnt) OVER (ORDER BY deg) AS BIGINT) AS cum,
            CAST(sum(cnt) OVER () AS BIGINT) AS n
        FROM hist
    ),
    cap AS (
        SELECT min(deg) AS cap FROM cum
        WHERE cum * 100 >= n * {_DEGREE_CAP_PCT}
    )"""


def _order_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct ``(l_orderkey, l_partkey)`` lines: the graph's input."""
    return (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .dropDuplicates(["l_orderkey", "l_partkey"])
    )


def _basket_pairs(li: DataFrame) -> DataFrame:
    """``(src, dst, pair_orders)``: every part pair (``src < dst``) that
    shares at least ``_BASKET_MIN_PAIR_ORDERS`` orders in LI.

    Not a self-join on ``l_orderkey``, which would shuffle the fact
    table twice: ONE shuffle builds each order's sorted basket, then two
    chained generators emit its C(k,2) pairs — ``posexplode`` picks each
    src with its index, ``explode`` over the tail slice yields each dst.
    Both run in codegen; the earlier nested ``transform`` × ``flatten``
    form ran its lambdas interpreted (round-16 finding) and measured
    2.53 s against 1.61 s for the edge list alone at sf0.1. Fan-out is
    bounded by basket size (~4 lines/order here, order width in any
    retail schema)."""
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("l_partkey")).alias("parts")
    )
    srcs = baskets.select(
        F.col("parts"), F.posexplode(F.col("parts")).alias("i", "src")
    )
    return (
        srcs.select(
            "src",
            F.explode(
                F.slice(
                    F.col("parts"),
                    F.col("i") + 2,
                    F.greatest(F.size("parts") - F.col("i") - 1, F.lit(0)),
                )
            ).alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count("*").alias("pair_orders"))
        .filter(F.col("pair_orders") >= _BASKET_MIN_PAIR_ORDERS)
    )


def _copurchase_half_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The half list ``(src, dst)``, UNPERSISTED.

    Deliberately lazy (r18 measured): persisting here serves only the
    2-consumer mirror union, and an interleaved A/B showed it REGRESSES
    the light consumers locally (powerlaw 2.46→3.24 s, lift 1.96→2.44 s
    at sf0.1) — on an idle 32-core box the two duplicate evaluations run
    as CONCURRENT stages for free, while the cache serializes
    materialize-then-read and adds the columnar cache-write cost.
    Entries whose consumption is heavier (3+ reads: kcore's peel chain,
    reach2's four branches, triangle's orientation) persist at THEIR
    level, where the A/B showed real wins. At 100 TB the duplication is
    no longer free (cores are busy) and the per-entry persists bound the
    basket DAG to ≤2 evaluations per query."""
    return _basket_pairs(_order_parts(spark, sf_dir)).select("src", "dst")


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mirrored list ``(src, dst)``. The half list is lazy, so the
    union evaluates the basket DAG twice; consumers that read the edges
    more often persist at their own level."""
    pairs = _copurchase_half_edges(spark, sf_dir)
    return pairs.union(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _degree_cap(deg: DataFrame) -> DataFrame:
    """The 1-row ``cap``: the smallest degree at or above the
    ``_DEGREE_CAP_PCT`` percentile of DEG's ``deg`` column, read from
    the degree histogram."""
    hist = deg.groupBy("deg").agg(F.count("*").cast("bigint").alias("cnt"))
    w_cum = Window.orderBy("deg").rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "deg",
        F.sum("cnt").over(w_cum).cast("bigint").alias("cum"),
        F.sum("cnt").over(
            Window.orderBy(F.lit(1)).rangeBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("bigint").alias("n"),
    )
    return cum.filter(
        F.col("cum") * 100 >= F.col("n") * _DEGREE_CAP_PCT
    ).agg(F.min("deg").alias("cap"))


@register(
    "q21_copurchase_lift",
    oracle=f"""
    WITH {_COPURCHASE_SQL},
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li),
    freq AS (
        SELECT l_partkey, count(*) AS part_orders FROM li GROUP BY 1
    )
    SELECT
        p.src AS part_a,
        p.dst AS part_b,
        CAST(p.pair_orders AS BIGINT) AS pair_orders,
        CAST(round(
            CAST(p.pair_orders * n.n_orders AS DOUBLE)
            / (fa.part_orders * fb.part_orders) * 10000.0) AS BIGINT)
            AS lift_e4
    FROM half p, n
    JOIN freq fa ON p.src = fa.l_partkey
    JOIN freq fb ON p.dst = fb.l_partkey
    """,
    tags=("analytics", "Q21", "basket"),
)
def q21_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21f: market-basket co-purchase pairs with lift (association rules).

    The "customers who bought X also bought Y" workhorse: every edge of
    the half list with its order count, scored with lift =
    P(A,B) / (P(A)·P(B)) — scaled to a BIGINT from one exact-integer
    product per side so the two engines cannot drift. The per-part
    frequency table is dimension-sized → broadcast; the 1-row order
    count broadcasts likewise.
    """
    li = _order_parts(spark, sf_dir)
    # Left as three independent aggregates over the lazy fact projection
    # (r18 measured): both sharing variants — persist the baskets and
    # derive n/freq from them, or persist li for all three consumers —
    # ran SLOWER locally (2.29→2.44/2.52 s interleaved A/B at sf0.1):
    # the three aggregates execute as concurrent stages on idle cores,
    # while a cache serializes materialize-then-read. At 100 TB the
    # duplicated fact scans are the real cost and the basket-persist
    # form is the right one — revisit if this entry ever tops a profile.
    n = li.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    freq = li.groupBy("l_partkey").agg(F.count("*").alias("part_orders"))
    fa = freq.select(
        F.col("l_partkey").alias("src"),
        F.col("part_orders").alias("orders_a"),
    )
    fb = freq.select(
        F.col("l_partkey").alias("dst"),
        F.col("part_orders").alias("orders_b"),
    )
    return (
        _basket_pairs(li)
        .join(F.broadcast(fa), "src")
        .join(F.broadcast(fb), "dst")
        .crossJoin(F.broadcast(n))
        .select(
            F.col("src").alias("part_a"),
            F.col("dst").alias("part_b"),
            F.col("pair_orders").cast("bigint").alias("pair_orders"),
            F.round(
                (F.col("pair_orders") * F.col("n_orders")).cast("double")
                / (F.col("orders_a") * F.col("orders_b"))
                * 10000.0
            )
            .cast("bigint")
            .alias("lift_e4"),
        )
    )


#: PageRank geometry: fixed 3 power iterations, damping 0.85, ranks
#: carried as e6-scaled BIGINTs with floor division — every engine
#: computes bit-identical integers (no float accumulation anywhere).
_PR_ITERS = 3
_PR_DAMP_NUM = 85  # damping numerator over /100
_PR_BASE_E6 = 150_000  # (1 - 0.85) * 1e6
_PR_INIT_E6 = 1_000_000


@register(
    "q21_part_pagerank",
    oracle=f"""
    WITH {_COPURCHASE_SQL},
    deg AS (
        SELECT src AS node, count(*) AS degree FROM edges GROUP BY 1
    ),
    r0 AS (SELECT node, degree, {_PR_INIT_E6}::BIGINT AS rank_e6 FROM deg)"""
    + "".join(
        f""",
    r{i + 1} AS (
        SELECT d.node, d.degree,
               {_PR_BASE_E6} + ({_PR_DAMP_NUM} * sum(r.rank_e6 // r.degree))
                   // 100 AS rank_e6
        FROM edges e
        JOIN r{i} r ON e.src = r.node
        JOIN deg d ON e.dst = d.node
        GROUP BY 1, 2
    )"""
        for i in range(_PR_ITERS)
    )
    + f"""
    SELECT node AS part,
           CAST(degree AS BIGINT) AS degree,
           CAST(rank_e6 AS BIGINT) AS rank_e6
    FROM r{_PR_ITERS}
    """,
    tags=("analytics", "Q21", "graph", "iterative"),
)
def q21_part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21g: PageRank centrality over the co-purchase graph (iterative).

    The second iterative-algorithm demo beside dedup's label
    propagation: ``_PR_ITERS`` fixed power iterations of damped PageRank
    over the mirrored edge list, unrolled the same way in the oracle.
    All arithmetic is e6-scaled BIGINT with floor division — per-edge
    contribution ``rank div degree``, exact integer sum, then
    ``150000 + (85 * sum) div 100`` — so Spark and the oracle produce
    bit-identical ranks with zero float accumulation (the standard
    double-precision PageRank cannot cross-check this way because
    parallel sum order varies).

    Scale shape: each iteration is edges ⋈ ranks (equi-join on the
    node key) + one aggregate by destination — both shuffles land on
    the SAME key, so at scale the edge list is hash-partitioned once
    and every iteration reuses that layout (Exchange reuse; in a
    long-running job you would also checkpoint ranks every ~10 iters
    to cut lineage). Fixed iteration count keeps the plan static and
    AQE-friendly; convergence-tested variants belong in a driver loop
    like dedup's fixpoint (`operators/dedup.py`). Degree and rank
    relations are node-cardinality (≪ edges), broadcastable for
    dimension-sized graphs.

    Reference parity: R17's warehouse role — graph centrality is the
    canonical "beyond SQL" analytics capability Redshift ships as an
    extension; here it is native and oracle-checked.
    """
    # Persist edges and degrees (r18, guide §5): edges feed the degree
    # aggregate plus one join per power iteration (4 consumers), deg
    # feeds the rank seed plus every iteration's rebuild — without the
    # caches each consumer re-executes the basket DAG (before-plan: 28
    # parquet scans, 0 ReusedExchange). With identical cached inputs the
    # per-iteration src-hash Exchange also becomes reusable.
    edges = _copurchase_edges(spark, sf_dir).persist()
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("degree")
    ).persist()
    ranks = deg.select(
        "node", "degree", F.lit(_PR_INIT_E6).cast("bigint").alias("rank_e6")
    )
    for _ in range(_PR_ITERS):
        contrib = (
            edges.join(
                ranks.select(
                    F.col("node").alias("src"),
                    F.expr("rank_e6 div degree").alias("contrib"),
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("contrib").alias("contrib_sum"))
        )
        ranks = contrib.join(deg, "node").select(
            "node",
            "degree",
            F.expr(
                f"{_PR_BASE_E6} + ({_PR_DAMP_NUM} * contrib_sum) div 100"
            ).alias("rank_e6"),
        )
    return ranks.select(
        F.col("node").alias("part"),
        F.col("degree").cast("bigint").alias("degree"),
        F.col("rank_e6").cast("bigint").alias("rank_e6"),
    )


@register(
    "q21_sessionize_gap",
    oracle=f"""
    WITH ordered AS (
        SELECT
            user_id,
            CAST(ts AS TIMESTAMP) AS ts,
            event_id,
            value,
            {_NEW_SESSION_SQL} AS new_session
        FROM events
    ),
    tagged AS (
        SELECT
            user_id, ts, event_id, value,
            {_SESSION_SEQ_SQL} AS session_seq
        FROM ordered
    )
    SELECT
        user_id,
        CAST(session_seq AS BIGINT) AS session_seq,
        min(ts) AS session_start,
        count(*) AS n_events,
        CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS duration_s,
        CAST(round(sum(value) * 100.0) AS BIGINT) AS value_e2
    FROM tagged
    GROUP BY user_id, session_seq
    """,
    tags=("analytics", "sessionize", "R17"),
)
def q21_sessionize_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization: an inactivity gap over
    ``_SESSION_GAP_MIN`` minutes starts a new session (the contract's
    ``_new_session``); emit per-session start/size/duration/value
    rollups.

    The batch counterpart of ``s03_session_window`` (streaming session
    windows), expressed as the classic two-window cascade: a boundary
    flag from ``lag``, then a running ``sum`` of boundaries as the
    session ordinal — both windows AND the final group-by share the one
    ``user_id`` hash partitioning, so the whole query is a single
    exchange followed by one per-partition sort (both windows take the
    same contract order) and a partial-agg.
    Duration is an epoch-second diff (both engines count whole-second
    boundaries, so µs-precision inputs agree); the value rollup is a
    scaled BIGINT per the registry's cross-engine float discipline.
    """
    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    tagged = ev.withColumn("new_session", _new_session()).withColumn(
        "session_seq", _session_seq().cast("bigint")
    )
    return tagged.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.count("*").alias("n_events"),
        (
            F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long"))
        ).alias("duration_s"),
        F.round(F.sum("value") * 100.0).cast("bigint").alias("value_e2"),
    )


@register(
    "q21_activity_streaks",
    oracle="""
    WITH days AS (
        -- d IS NOT NULL: a streak is over real calendar days, so
        -- NULL-event-time rows carry no activity day. (Also dodges a
        -- DuckDB 1.0.0 bug: its parallel partitioned window sort
        -- places a NULL DATE key NONDETERMINISTICALLY — even with
        -- explicit NULLS FIRST — observed longest_streak 16..30
        -- across reruns of the identical query.)
        SELECT DISTINCT user_id,
               CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d
        FROM events
        WHERE ts IS NOT NULL
    ),
    grouped AS (
        SELECT user_id, d,
               d - CAST(row_number() OVER (
                       PARTITION BY user_id ORDER BY d
                   ) AS INT) AS grp
        FROM days
    ),
    streaks AS (
        SELECT user_id, min(d) AS streak_start, count(*) AS streak_days
        FROM grouped
        GROUP BY user_id, grp
    )
    SELECT user_id,
           CAST(max(streak_days) AS BIGINT) AS longest_streak,
           count(*) AS n_streaks,
           min(streak_start) AS first_active_day
    FROM streaks
    GROUP BY user_id
    """,
    tags=("analytics", "streaks", "R17"),
)
def q21_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the retention
    metric behind 'N-day streak' product mechanics, and the date-typed
    rendering of gaps-and-islands (Q21h sessionizes micro-gaps in
    timestamps; this sessionizes macro-gaps in the day calendar).

    The row_number trick: within a user's ordered distinct days,
    ``day - row_number`` is constant across a consecutive run and jumps
    at every gap — the island key costs one window, no self-join, no
    lag-cascade. Day arithmetic is exact (DATE minus INT), so island
    keys agree cross-engine by construction.

    Scale shape: the (user, day) dedup is the only event-sized
    aggregate; the window and both rollups run on user-day rows (≤
    users × days, bounded regardless of event volume) and share the
    user_id hash partitioning end to end.
    """
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    # NULL event times carry no activity day — excluded on both sides
    # (see the oracle's WHERE for the DuckDB rationale).
    days = (
        ev.filter(F.col("ts").isNotNull())
        .select(
            "user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("d")
        )
        .dropDuplicates(["user_id", "d"])
    )
    w = Window.partitionBy("user_id").orderBy("d")
    grouped = days.withColumn(
        "grp", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    streaks = grouped.groupBy("user_id", "grp").agg(
        F.min("d").alias("streak_start"),
        F.count("*").alias("streak_days"),
    )
    return streaks.groupBy("user_id").agg(
        F.max("streak_days").cast("bigint").alias("longest_streak"),
        F.count("*").alias("n_streaks"),
        F.min("streak_start").alias("first_active_day"),
    )


@register(
    "q21_copurchase_reach2",
    oracle=f"""
    WITH {_COPURCHASE_SQL},
    deg AS (
        SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1
    ),
    {_DEGREE_CAP_SQL},
    mid AS (
        SELECT node FROM deg, cap WHERE deg.deg <= cap.cap
    ),
    hop2 AS (
        SELECT e1.src, e2.dst
        FROM edges e1
        JOIN mid ON e1.dst = mid.node
        JOIN edges e2 ON e1.dst = e2.src
        WHERE e1.src <> e2.dst
    ),
    reach AS (
        SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM edges
            UNION ALL
            SELECT src, dst FROM hop2
        )
    )
    SELECT
        src AS part,
        count(*) AS n_reachable_2hop,
        CAST(min(dst) AS BIGINT) AS min_reachable_part
    FROM reach
    GROUP BY src
    """,
    tags=("analytics", "graph", "R17"),
)
def q21_copurchase_reach2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded transitive closure: the ≤2-hop neighborhood size per part
    in the co-purchase graph — the friend-of-friend / substitute-
    discovery query, and the third graph-algorithm class beside
    PageRank (fixed-point scoring) and label propagation (components).

    Exactly-k-hop expansion is one self-join of the edge list per hop;
    the closure is the distinct union of hop-1 and hop-2 frontiers.

    Scale shape: 2-hop frontiers explode through HUBS, not edges — the
    join fan-out is Σ degree(middle)², so one super-node middle can
    dominate the whole stage at 100×. Middles above the p95 degree cap
    are therefore excluded from the hop join (they still appear as
    hop-1 endpoints); the middle filter is a left-semi equi-join on the
    same node-id key the hop join shuffles on.
    """
    return reach2_over(_copurchase_edges(spark, sf_dir))


def reach2_over(edges: DataFrame) -> DataFrame:
    """The ``q21_copurchase_reach2`` body over an arbitrary symmetric
    edge list — factored out (r13 verdict item 7) so ``tools/
    scale_curve.py`` can measure the registered plan at synthesized
    10x edge count. The registered entry calls this with its own
    co-purchase edges, so its plan and output are unchanged.

    Persists (r18, guide §5): EDGES is consumed by four plan branches
    (degree aggregate, both hop sides, the 1-hop union arm) and DEG by
    two (histogram chain + the cap filter) — with no cache every branch
    re-executed the upstream basket DAG (before-plan: 28 parquet scans,
    0 ReusedExchange). Lifecycle as elsewhere (harness clearCache)."""
    edges = edges.persist()
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("deg")
    ).persist()
    mid = (
        deg.join(F.broadcast(_degree_cap(deg)))
        .filter(F.col("deg") <= F.col("cap"))
        .select("node")
    )
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    hop2 = (
        e1.join(mid, F.col("e1.dst") == F.col("node"), "left_semi")
        .join(e2, F.col("e1.dst") == F.col("e2.src"))
        .filter(F.col("e1.src") != F.col("e2.dst"))
        .select(F.col("e1.src").alias("src"), F.col("e2.dst").alias("dst"))
    )
    reach = edges.select("src", "dst").unionByName(hop2).dropDuplicates()
    return reach.groupBy(F.col("src").alias("part")).agg(
        F.count("*").alias("n_reachable_2hop"),
        F.min("dst").cast("bigint").alias("min_reachable_part"),
    )


@register(
    "q21_triangle_count",
    oracle=f"""
    WITH {_COPURCHASE_SQL},
    und AS (SELECT src AS u, dst AS v FROM half),
    deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS deg
        FROM (SELECT u AS node FROM und UNION ALL SELECT v FROM und)
        GROUP BY node
    ),
    oriented AS (
        SELECT
            CASE WHEN (du.deg, e.u) < (dv.deg, e.v)
                 THEN e.u ELSE e.v END AS s,
            CASE WHEN (du.deg, e.u) < (dv.deg, e.v)
                 THEN e.v ELSE e.u END AS t,
            CASE WHEN (du.deg, e.u) < (dv.deg, e.v)
                 THEN dv.deg ELSE du.deg END AS t_deg
        FROM und e
        JOIN deg du ON du.node = e.u
        JOIN deg dv ON dv.node = e.v
    ),
    tri AS (
        SELECT e1.s AS a, e1.t AS b, e2.t AS c
        FROM oriented e1
        JOIN oriented e2
          ON e1.s = e2.s AND (e1.t_deg, e1.t) < (e2.t_deg, e2.t)
        JOIN oriented e3 ON e3.s = e1.t AND e3.t = e2.t
    ),
    membership AS (
        SELECT a AS part FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    SELECT part, CAST(count(*) AS BIGINT) AS n_triangles
    FROM membership
    GROUP BY part
    """,
    tags=("analytics", "Q21", "graph"),
)
def q21_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21: per-node triangle counts over the co-purchase graph.

    The fourth graph-algorithm class in the battery (after PageRank's
    fixed-point, label propagation's components, and reach2's bounded
    closure): triangle counting, the basis of clustering coefficients
    and community-density scoring. A part in many triangles sits in a
    tightly co-purchased cluster — a strong "bundle" signal.

    Algorithm: DEGREE-ORDERING orientation (round-8 rework of the
    earlier id-order formulation; the r06/r07 verdicts named it the
    last unbuilt graph-scale lever). Each undirected edge {u,v} is
    stored once, directed from the endpoint with the smaller
    (degree, id) key to the larger — a total order, so every triangle
    with rank a<b<c appears exactly once as the wedge (a→b, a→c)
    closed by the oriented edge b→c. Wedges form at the LOWEST-rank
    corner, so the wedge count is Σ C(outdeg(v), 2) with outdeg
    bounded by O(√m) on ANY graph (the classic compact-forward
    guarantee) — a hub of raw degree d contributes ~0 wedges because
    almost all its edges point INTO it. Id-order, by contrast, leaves
    a low-id hub with outdeg ≈ d and a d² wedge explosion; this is
    the same skew law reach2's degree cap addresses, solved here by
    orientation instead of capping (triangle counts must stay exact).

    Membership counts are orientation-invariant, so the emitted rows
    match the previous formulation exactly; the oracle mirrors the
    (deg, id) orientation anyway — tuple comparisons on both engines —
    so the parity argument stays literal, not just value-equal.

    Scale shape: degrees are one node-sized aggregate; the two deg
    lookups and both triangle joins are hash equi-joins (no cartesian,
    no BNLJ — plan-pinned); the rank tie-break rides inside the join
    as a codegen struct comparison, never a second shuffle.
    """
    # The half-edge list IS the undirected edge set (src < dst by the
    # sorted-basket construction): consume it directly (r18) instead of
    # mirroring into the symmetric list and filtering back down — the
    # union+filter round-trip doubled the plan for zero information.
    und = _copurchase_half_edges(spark, sf_dir).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    return triangle_membership_over(und)


def triangle_membership_over(und: DataFrame) -> DataFrame:
    """The ``q21_triangle_count`` body over an arbitrary undirected
    half-edge list (one ``(u, v)`` row per edge, ``u < v``) — factored
    out (r13 verdict item 7) so ``tools/scale_curve.py`` can measure
    the degree-ordering orientation at synthesized 10x edges. The
    registered entry calls this with its own co-purchase half edges,
    so its plan and output are unchanged.

    UND is persisted here (r18, guide §5): three branches consume it
    (both arms of the degree union + the oriented join input) and
    nothing reuses exchanges across them — the before-plan held 100
    parquet-scan references for one query."""
    und = und.persist()
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    e = und.join(
        deg.select(F.col("node").alias("u"), F.col("deg").alias("du")), "u"
    ).join(
        deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), "v"
    )
    u_first = F.struct(F.col("du"), F.col("u")) < F.struct(
        F.col("dv"), F.col("v")
    )
    # Three plan branches (both wedge sides + the closing scan) read the
    # oriented list, and column pruning makes their subtrees non-identical
    # so ReusedExchange never fires — persist it once (same lifecycle as
    # dedup's candidate stream: bench/check_oracle clearCache between
    # queries). At 100 TB this is the canonical materialization point:
    # the post-support-floor oriented edge list IS the graph artifact,
    # orders of magnitude smaller than the lineitem fact it derives from.
    oriented = e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("t_deg"),
    ).persist()
    e1 = oriented.select(
        "s", F.col("t").alias("b"), F.col("t_deg").alias("b_deg")
    )
    e2 = oriented.select(
        "s", F.col("t").alias("c"), F.col("t_deg").alias("c_deg")
    )
    wedges = e1.join(e2, "s").filter(
        F.struct(F.col("b_deg"), F.col("b"))
        < F.struct(F.col("c_deg"), F.col("c"))
    )
    e3 = oriented.select(F.col("s").alias("b"), F.col("t").alias("c"))
    tri = wedges.join(e3, ["b", "c"]).select(
        F.col("s").alias("a"), "b", "c"
    )
    membership = (
        tri.select(F.col("a").alias("part"))
        .unionAll(tri.select(F.col("b").alias("part")))
        .unionAll(tri.select(F.col("c").alias("part")))
    )
    return membership.groupBy("part").agg(
        F.count("*").cast("bigint").alias("n_triangles")
    )


@register(
    "q21_rfm_segments",
    oracle="""
    WITH now_ref AS (
        SELECT max(CAST(o_orderdate AS DATE)) AS d_max FROM orders
    ),
    per_cust AS (
        SELECT
            o_custkey,
            CAST((SELECT d_max FROM now_ref)
                 - max(CAST(o_orderdate AS DATE)) AS BIGINT) AS recency_days,
            CAST(count(*) AS BIGINT) AS frequency,
            CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT))
                 AS BIGINT) AS monetary_cents
        FROM orders
        GROUP BY o_custkey
    )
    SELECT
        o_custkey,
        recency_days,
        frequency,
        monetary_cents,
        CAST(ntile(4) OVER (ORDER BY recency_days ASC, o_custkey)
             AS BIGINT) AS r_quartile,
        CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey)
             AS BIGINT) AS f_quartile,
        CAST(ntile(4) OVER (ORDER BY monetary_cents DESC, o_custkey)
             AS BIGINT) AS m_quartile
    FROM per_cust
    """,
    tags=("analytics", "Q21", "rfm"),
)
def q21_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21: RFM (recency / frequency / monetary) customer segmentation.

    The classic marketing-analytics scorecard: days since last order,
    order count, and lifetime spend per customer, each quartiled with
    ``ntile(4)`` so downstream targeting reads "R1F1M1" champions vs
    "R4F4M4" churned. Recency anchors on the corpus max date (not
    wall-clock) so the query is reproducible.

    Determinism: each ntile orders by (metric, custkey) — a TOTAL order
    — because ntile's bucket boundaries under ties are engine-dependent
    unless the sort is unambiguous. Spend is per-order integer cents
    summed exactly; the max-date anchor is a 1-row broadcast.

    Scale shape: one groupBy(custkey) exchange builds the per-customer
    table. Each unpartitioned ntile is a global sort of the CUSTOMER
    dimension (not the fact table) — dimension-sized data through a
    single-partition window, the standard quantile-assignment shape; at
    true scale swap ntile for percentile-bucket joins if the customer
    dim itself outgrows one partition's sort budget (noted, not needed:
    even 10^9 customers × 24 bytes sorts in-memory on one executor).
    """
    o = table(spark, sf_dir, "orders")
    d_max = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("d_max"))
    per_cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
            F.count("*").cast("bigint").alias("frequency"),
            F.sum(F.round(F.col("o_totalprice") * 100.0).cast("bigint"))
            .cast("bigint")
            .alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(d_max))
        .select(
            "o_custkey",
            F.datediff("d_max", "last_order").cast("bigint").alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
    )
    return per_cust.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        F.ntile(4)
        .over(Window.orderBy(F.asc("recency_days"), F.asc("o_custkey")))
        .cast("bigint")
        .alias("r_quartile"),
        F.ntile(4)
        .over(Window.orderBy(F.desc("frequency"), F.asc("o_custkey")))
        .cast("bigint")
        .alias("f_quartile"),
        F.ntile(4)
        .over(Window.orderBy(F.desc("monetary_cents"), F.asc("o_custkey")))
        .cast("bigint")
        .alias("m_quartile"),
    )


@register(
    "q21_spend_trend_ols",
    oracle="""
    WITH anchor AS (
        -- the anchor is the first PURCHASE date — the same relation the
        -- regression runs over. (r12 boundary-class finding: an
        -- all-events anchor diverges from the operator's purchase-only
        -- anchor once a non-purchase event predates every purchase;
        -- invisible while anchors coincided AND x-shift invariance
        -- held — a NULL-ts purchase broke the latter, see below.)
        SELECT min(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d0
        FROM events
        WHERE event_type = 'purchase' AND ts IS NOT NULL
    ),
    daily AS (
        SELECT
            user_id,
            CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE)
                 - (SELECT d0 FROM anchor) AS BIGINT) AS x,
            CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT) AS y
        FROM events
        -- ts IS NOT NULL: an undated purchase carries no position in
        -- time — keeping it made a PHANTOM regression point (counted
        -- in n_days and sy, absent from sx/sxy/sxx), which both
        -- biases the estimator and breaks the anchor-shift invariance
        WHERE event_type = 'purchase' AND ts IS NOT NULL
        GROUP BY user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE)
    ),
    stats AS (
        SELECT
            user_id,
            CAST(count(*) AS BIGINT) AS n_days,
            CAST(sum(x) AS BIGINT) AS sx,
            CAST(sum(y) AS BIGINT) AS sy,
            CAST(sum(x * y) AS BIGINT) AS sxy,
            CAST(sum(x * x) AS BIGINT) AS sxx
        FROM daily
        GROUP BY user_id
    )
    SELECT
        user_id,
        n_days,
        sy AS total_cents,
        CAST(round(
            CAST(n_days * sxy - sx * sy AS DOUBLE) * 10000.0
            / (n_days * sxx - sx * sx)
        ) AS BIGINT) AS slope_e4
    FROM stats
    WHERE n_days >= 2
    """,
    tags=("analytics", "Q21", "trend"),
)
def q21_spend_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21: per-user spend trend — closed-form OLS slope, exact integers.

    "Is this customer's daily spend rising or falling?" — the
    engagement-trend feature scoring/churn models consume. Fits
    ``y = a + b·x`` per user over (day-index, daily-spend-cents) points
    with the closed-form estimator b = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²).

    The built-in ``regr_slope`` is deliberately NOT used: it accumulates
    float covariances whose partial-aggregation order differs between
    engines (and between Spark partitionings!), so results would be
    run-dependent at the last ulp. Integer moments are exact and
    order-free: day indexes are small ints off a 1-row broadcast anchor,
    spend is integer cents, every Σ is a BIGINT (magnitude bound ~5e14
    for a year of 100k-cent days — no overflow), and the single double
    division is the only float op. Users need ≥2 distinct active days
    (denominator provably > 0).

    Scale shape: two stacked hash aggregates on the same user-keyed
    flow — (user, day) roll-up, then per-user moments, both map-side
    combinable; the date anchor is a 1-row broadcast. No window, no
    sort, no join against the fact table.
    """
    ev = table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & F.col("ts").isNotNull()
    )
    anchor = ev.agg(F.min(F.col("ts").cast("date")).alias("d0"))
    daily = (
        ev.crossJoin(F.broadcast(anchor))
        .groupBy(
            "user_id",
            F.datediff(F.col("ts").cast("date"), F.col("d0"))
            .cast("bigint")
            .alias("x"),
        )
        .agg(
            F.sum(F.round(F.col("value") * 100.0).cast("bigint"))
            .cast("bigint")
            .alias("y")
        )
    )
    stats = daily.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    num = F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")
    return stats.filter(F.col("n_days") >= 2).select(
        "user_id",
        "n_days",
        F.col("sy").alias("total_cents"),
        F.round(num.cast("double") * 10000.0 / den)
        .cast("bigint")
        .alias("slope_e4"),
    )


@register(
    "q21_next_event_prediction",
    oracle=f"""
    WITH {_TRANSITIONS_SQL},
    totals AS (
        SELECT prev_type, sum(n) AS n_total FROM transitions GROUP BY 1
    )
    SELECT
        t.prev_type,
        t.next_type AS predicted_next,
        CAST(t.n AS BIGINT) AS n_observed,
        CAST(round(CAST(t.n AS DOUBLE) / tt.n_total * 1000000.0)
             AS BIGINT) AS prob_e6
    FROM transitions t
    JOIN totals tt ON t.prev_type = tt.prev_type
    QUALIFY row_number() OVER (
        PARTITION BY t.prev_type ORDER BY t.n DESC, t.next_type ASC
    ) = 1
    """,
    tags=("analytics", "Q21", "markov"),
)
def q21_next_event_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21: maximum-likelihood next-event prediction per state.

    Completes the Markov story the transition matrix
    (q21_event_transitions) starts: for every observed current event
    type, the argmax next state and its transition probability — the
    1-step predictor behind "users who just did X usually do Y next"
    surfaces and journey-drop-off alerts.

    Determinism: argmax ties break lexicographically on next_type; the
    probability is one IEEE division over exact integer counts, e6-
    scaled. Scale shape: the |types|² transition matrix is the only
    event-sized work (one user-keyed window pass, shared with the
    transitions op); everything after runs on ≤ |types|² rows — the
    totals join and the argmax rank are dimension-sized.
    """
    transitions = _transitions(table(spark, sf_dir, "events"))
    totals = transitions.groupBy("prev_type").agg(
        F.sum("n").alias("n_total")
    )
    wr = Window.partitionBy("prev_type").orderBy(
        F.col("n").desc(), F.col("next_type").asc()
    )
    return (
        transitions.join(F.broadcast(totals), "prev_type")
        .withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == 1)
        .select(
            "prev_type",
            F.col("next_type").alias("predicted_next"),
            F.col("n").cast("bigint").alias("n_observed"),
            F.round(F.col("n").cast("double") / F.col("n_total") * 1000000.0)
            .cast("bigint")
            .alias("prob_e6"),
        )
    )


@register(
    "pipeline_feature_store",
    oracle=f"""
    WITH ev AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
               CAST(round(coalesce(value, 0.0) * 100.0) AS BIGINT) AS cents
        FROM events
    ),
    anchor AS (
        SELECT max(CAST(ts AS DATE)) AS dmax, min(CAST(ts AS DATE)) AS dmin
        FROM ev
    ),
    base AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(*) FILTER (WHERE event_type = 'purchase')
                    AS BIGINT) AS n_purchases,
               CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
                                      THEN cents END), 0)
                    AS BIGINT) AS total_cents,
               CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT)
                   AS n_active_days,
               CAST((SELECT dmax FROM anchor) - max(CAST(ts AS DATE))
                    AS BIGINT) AS recency_days
        FROM ev GROUP BY user_id
    ),
    daily AS (
        SELECT user_id,
               CAST(CAST(ts AS DATE) - (SELECT dmin FROM anchor)
                    AS BIGINT) AS x,
               CAST(sum(cents) AS BIGINT) AS y
        FROM ev WHERE event_type = 'purchase'
        GROUP BY user_id, CAST(ts AS DATE)
    ),
    m AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM daily GROUP BY user_id
    ),
    slope AS (
        SELECT user_id,
               CASE WHEN n_days >= 2 THEN
                   CAST(round(CAST(n_days * sxy - sx * sy AS DOUBLE)
                              * 10000.0 / (n_days * sxx - sx * sx))
                        AS BIGINT)
               END AS slope_e4
        FROM m
    ),
    latest AS (
        SELECT * EXCLUDE (rn)
        FROM (
            SELECT user_id, cents, {_EWMA_LAGS_SQL},
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM ev WHERE event_type = 'purchase'
        ) WHERE rn = 1
    ),
    smoothed AS (
        SELECT user_id, {_EWMA_E2_SQL} AS latest_ewma_cents_e2
        FROM latest
    )
    SELECT b.user_id, b.n_events, b.n_purchases, b.total_cents,
           b.n_active_days, b.recency_days, s.slope_e4,
           sm.latest_ewma_cents_e2
    FROM base b
    LEFT JOIN slope s USING (user_id)
    LEFT JOIN smoothed sm USING (user_id)
    """,
    tags=("pipeline", "feature-store", "Q21"),
)
def pipeline_feature_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: composed per-user FEATURE TABLE — the feature-store build job.

    One wide feature row per user, combining four feature families the
    standalone operators establish individually: activity volume
    (counts, active days), recency vs the corpus clock, spend trend
    (exact-moment OLS slope, q21_spend_trend_ols), and smoothed latest
    spend (finite-horizon EWMA at the newest purchase,
    q22_ewma_window). This is the table a ranking/churn model trains
    on and a feature server snapshots — the composed deliverable of
    the analytics layer.

    Plan economics (why composing beats four jobs): all three feature
    branches collapse the fact table to user-dimension size BEFORE
    anything joins — the base aggregate and the trend stack partial-agg
    map-side, the EWMA window exchanges only purchase rows — so the two
    final feature joins run at |users| scale on already-user-keyed
    layouts and the 1-row date anchor broadcasts. The fact table is
    scanned per branch but never shuffled at event size more than the
    three user-keyed exchanges the standalone ops would each pay
    anyway; composing removes the three intermediate materializations
    and the re-reads a job-per-feature design costs. NULL semantics are
    part of the contract: purchase-free users carry NULL slope/EWMA,
    not fabricated zeros.
    """
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.round(F.coalesce(F.col("value"), F.lit(0.0)) * 100.0)
        .cast("bigint")
        .alias("cents"),
    )
    anchor = ev.agg(
        F.max(F.col("ts").cast("date")).alias("dmax"),
        F.min(F.col("ts").cast("date")).alias("dmin"),
    )
    is_p = F.col("event_type") == "purchase"
    base = (
        ev.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.count(F.when(is_p, 1)).cast("bigint").alias("n_purchases"),
            F.coalesce(F.sum(F.when(is_p, F.col("cents"))), F.lit(0))
            .cast("bigint")
            .alias("total_cents"),
            F.countDistinct(F.col("ts").cast("date"))
            .cast("bigint")
            .alias("n_active_days"),
            F.max(F.col("ts").cast("date")).alias("last_day"),
        )
        .crossJoin(F.broadcast(anchor))
    )
    base = base.select(
        "user_id",
        "n_events",
        "n_purchases",
        "total_cents",
        "n_active_days",
        F.datediff("dmax", "last_day").cast("bigint").alias("recency_days"),
        "dmin",
    )
    purchases = ev.filter(is_p)
    daily = (
        purchases.crossJoin(F.broadcast(anchor.select("dmin")))
        .groupBy(
            "user_id",
            F.datediff(F.col("ts").cast("date"), F.col("dmin"))
            .cast("bigint")
            .alias("x"),
        )
        .agg(F.sum("cents").cast("bigint").alias("y"))
    )
    m = daily.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    num = F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = m.select(
        "user_id",
        F.when(
            F.col("n_days") >= 2,
            F.round(num.cast("double") * 10000.0 / den).cast("bigint"),
        ).alias("slope_e4"),
    )
    newest = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    latest = (
        purchases.select(
            "user_id",
            "cents",
            *[c.alias(n) for c, n in zip(_ewma_lags(), _EWMA_COLS[1:])],
            F.row_number().over(newest).alias("rn"),
        )
        .filter(F.col("rn") == 1)
    )
    smoothed = latest.select(
        "user_id",
        _ewma_e2([F.col(c) for c in _EWMA_COLS]).alias("latest_ewma_cents_e2"),
    )
    return (
        base.drop("dmin")
        .join(slope, "user_id", "left")
        .join(smoothed, "user_id", "left")
    )


@register(
    "q21_ab_lift_ztest",
    oracle="""
    WITH users AS (
        SELECT
            user_id,
            CAST(user_id % 2 AS BIGINT) AS bucket,
            max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS converted
        FROM events
        GROUP BY user_id
    ),
    arms AS (
        SELECT bucket,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(converted) AS BIGINT) AS n_converted
        FROM users GROUP BY bucket
    ),
    wide AS (
        SELECT
            (SELECT n_users FROM arms WHERE bucket = 0) AS n_c,
            (SELECT n_converted FROM arms WHERE bucket = 0) AS x_c,
            (SELECT n_users FROM arms WHERE bucket = 1) AS n_t,
            (SELECT n_converted FROM arms WHERE bucket = 1) AS x_t
    )
    SELECT
        n_c, x_c, n_t, x_t,
        CAST(round(CAST(x_c AS DOUBLE) / n_c * 1000000.0) AS BIGINT)
            AS rate_control_e6,
        CAST(round(CAST(x_t AS DOUBLE) / n_t * 1000000.0) AS BIGINT)
            AS rate_treat_e6,
        CAST(round(
            (CAST(x_t AS DOUBLE) / n_t - CAST(x_c AS DOUBLE) / n_c)
            / sqrt(
                (CAST(x_c + x_t AS DOUBLE) / (n_c + n_t))
                * (1.0 - CAST(x_c + x_t AS DOUBLE) / (n_c + n_t))
                * (1.0 / n_c + 1.0 / n_t)
            ) * 10000.0
        ) AS BIGINT) AS z_e4
    FROM wide
    """,
    tags=("analytics", "Q21", "experimentation"),
)
def q21_ab_lift_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21: A/B conversion analysis — two-proportion pooled z-test.

    The experimentation readout: users split into control/treatment by
    a deterministic key hash (``user_id % 2`` stands in for the
    assignment hash), per-arm conversion = "ever purchased", and the
    pooled two-proportion z statistic that decides the experiment.
    Everything a results dashboard shows: arm sizes, conversions, rates,
    z — in one row.

    Exactness: arm counts are exact integers; rates and z are a fixed
    chain of IEEE double ops (divisions, one sqrt) over those integers —
    identical on both engines — emitted e6/e4-scaled. Determinism of
    assignment is the same property the hash-split op (x04_dataset_split)
    pins: membership is a pure key function, never RNG.

    Scale shape: one user-keyed conditional-max aggregate collapses the
    fact table; the arm table is 2 rows; the pivot + test arithmetic is
    a 1-row projection. At 100 TB the entire cost is the first
    map-side-combinable aggregate.
    """
    ev = table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    ).select(
        (F.col("user_id") % 2).cast("bigint").alias("bucket"), "converted"
    )
    arms = users.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_converted"),
    )
    wide = arms.groupBy().agg(
        F.max(F.when(F.col("bucket") == 0, F.col("n_users"))).alias("n_c"),
        F.max(F.when(F.col("bucket") == 0, F.col("n_converted"))).alias("x_c"),
        F.max(F.when(F.col("bucket") == 1, F.col("n_users"))).alias("n_t"),
        F.max(F.when(F.col("bucket") == 1, F.col("n_converted"))).alias("x_t"),
    )
    p_c = F.col("x_c").cast("double") / F.col("n_c")
    p_t = F.col("x_t").cast("double") / F.col("n_t")
    p_pool = (F.col("x_c") + F.col("x_t")).cast("double") / (
        F.col("n_c") + F.col("n_t")
    )
    z = (p_t - p_c) / F.sqrt(
        p_pool
        * (F.lit(1.0) - p_pool)
        * (F.lit(1.0) / F.col("n_c") + F.lit(1.0) / F.col("n_t"))
    )
    return wide.select(
        "n_c",
        "x_c",
        "n_t",
        "x_t",
        F.round(p_c * 1000000.0).cast("bigint").alias("rate_control_e6"),
        F.round(p_t * 1000000.0).cast("bigint").alias("rate_treat_e6"),
        F.round(z * 10000.0).cast("bigint").alias("z_e4"),
    )


@register(
    "q21_attribution_last_touch",
    oracle=f"""
    WITH ev AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
               CAST(round(coalesce(value, 0.0) * 100.0) AS BIGINT) AS cents,
               CASE WHEN event_type <> 'purchase' THEN event_type END
                   AS touch
        FROM events
    ),
    attributed AS (
        SELECT event_id, event_type, cents,
               last_value(touch IGNORE NULLS) OVER ({_user_order_sql(
                   "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
               )}) AS attributed_touch
        FROM ev
    )
    SELECT
        coalesce(attributed_touch, 'none') AS attributed_touch,
        CAST(count(*) AS BIGINT) AS n_purchases,
        CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM attributed
    WHERE event_type = 'purchase'
    GROUP BY 1
    """,
    tags=("analytics", "Q21", "attribution"),
)
def q21_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21: last-touch revenue attribution — which touchpoint gets credit.

    The marketing-analytics staple: every purchase's revenue is credited
    to the user's most recent PRECEDING non-purchase event (view, click,
    signup, ...), and the report rolls revenue up by attributed
    touchpoint. Purchases with no prior touch land in 'none' — surfaced,
    not dropped, because unattributable revenue is itself a signal.

    The frame is the subtle part: ``ROWS ... AND 1 PRECEDING`` with
    ``last_value IGNORE NULLS`` looks back to but EXCLUDES the purchase
    row itself (a purchase must not self-attribute), and a purchase
    immediately following another purchase correctly skips over it to
    the last true touch because purchases carry a NULL touch column.
    This is the same carry-forward machinery as LOCF and the as-of
    union trick, pointed at attribution.

    Scale shape: one user_id exchange + one (ts, event_id) sort for the
    carry-forward, then a |touch types|-sized rollup. All integer cents.
    """
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.round(F.coalesce(F.col("value"), F.lit(0.0)) * 100.0)
        .cast("bigint")
        .alias("cents"),
        F.when(
            F.col("event_type") != "purchase", F.col("event_type")
        ).alias("touch"),
    )
    attributed = ev.withColumn(
        "attributed_touch",
        F.last("touch", ignorenulls=True).over(
            _user_order(Window.unboundedPreceding, -1)
        ),
    )
    return (
        attributed.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.coalesce(F.col("attributed_touch"), F.lit("none")).alias(
                "attributed_touch"
            )
        )
        .agg(
            F.count("*").cast("bigint").alias("n_purchases"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
    )


#: Two-sided alpha=0.05 and power=0.80 normal quantiles for the MDE
#: formula — fixed literals so both engines compute the identical
#: expression (no inverse-CDF builtin parity to depend on).
_Z_ALPHA_2 = 1.959963984540054
_Z_BETA = 0.8416212335729143


@register(
    "q21_ab_power_analysis",
    oracle=f"""
    WITH users AS (
        SELECT user_id,
               CAST(user_id % 2 AS BIGINT) AS bucket,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
        FROM events GROUP BY user_id
    ),
    arms AS (
        SELECT bucket, CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(converted) AS BIGINT) AS n_converted
        FROM users GROUP BY bucket
    ),
    wide AS (
        SELECT
            (SELECT n_users FROM arms WHERE bucket = 0) AS n_c,
            (SELECT n_users FROM arms WHERE bucket = 1) AS n_t,
            CAST((SELECT sum(n_converted) FROM arms) AS DOUBLE)
                / (SELECT sum(n_users) FROM arms) AS p_pool
    )
    SELECT
        n_c,
        n_t,
        CAST(round(p_pool * 1000000.0) AS BIGINT) AS base_rate_e6,
        CAST(round(
            ({_Z_ALPHA_2} + {_Z_BETA})
            * sqrt(p_pool * (1.0 - p_pool) * (1.0 / n_c + 1.0 / n_t))
            * 1000000.0) AS BIGINT) AS mde_abs_e6,
        CAST(ceil(
            2.0 * power({_Z_ALPHA_2} + {_Z_BETA}, 2)
            * p_pool * (1.0 - p_pool)
            / power(greatest(p_pool * 0.1, 1e-9), 2)
        ) AS BIGINT) AS n_per_arm_for_10pct_lift
    FROM wide
    """,
    tags=("analytics", "Q21", "experimentation"),
)
def q21_ab_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21: experiment power analysis — MDE and required sample size.

    The question asked BEFORE the z-test (q21_ab_lift_ztest) is read:
    what's the smallest conversion-rate lift this experiment could have
    detected (α=0.05 two-sided, 80% power), and how many users per arm
    would a 10%-relative lift need? Without these two numbers a
    non-significant readout is uninterpretable — "no effect" and
    "underpowered" look identical.

    The normal quantiles are fixed literals (no inverse-CDF builtin
    parity to depend on); everything downstream of the one user-keyed
    aggregate is a 1-row projection of exact counts through an
    identical IEEE expression chain on both engines.

    Scale shape: identical to the z-test — one map-side-combinable
    conditional aggregate collapses the fact table; the rest is free.
    """
    ev = table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    ).select(
        (F.col("user_id") % 2).cast("bigint").alias("bucket"), "converted"
    )
    arms = users.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_converted"),
    )
    wide = arms.groupBy().agg(
        F.max(F.when(F.col("bucket") == 0, F.col("n_users"))).alias("n_c"),
        F.max(F.when(F.col("bucket") == 1, F.col("n_users"))).alias("n_t"),
        (
            F.sum("n_converted").cast("double") / F.sum("n_users")
        ).alias("p_pool"),
    )
    z_sum = F.lit(_Z_ALPHA_2 + _Z_BETA)
    p = F.col("p_pool")
    mde = z_sum * F.sqrt(
        p * (F.lit(1.0) - p)
        * (F.lit(1.0) / F.col("n_c") + F.lit(1.0) / F.col("n_t"))
    )
    n_needed = F.ceil(
        F.lit(2.0)
        * F.pow(z_sum, 2)
        * p
        * (F.lit(1.0) - p)
        / F.pow(F.greatest(p * 0.1, F.lit(1e-9)), 2)
    )
    return wide.select(
        "n_c",
        "n_t",
        F.round(p * 1000000.0).cast("bigint").alias("base_rate_e6"),
        F.round(mde * 1000000.0).cast("bigint").alias("mde_abs_e6"),
        n_needed.cast("bigint").alias("n_per_arm_for_10pct_lift"),
    )


#: Survival geometry: a customer whose last order is more than this many
#: days before the corpus clock is a CHURN EVENT at their last-order
#: day; everyone else is right-censored at the clock. Lifetimes are
#: reported in WEEKS so the KM table stays calendar-bounded.
_SURVIVAL_CHURN_DAYS = 365


@register(
    "q21_survival_km",
    oracle=f"""
    WITH days AS (
        SELECT o_custkey AS user_id,
               CAST(o_orderdate AS DATE) AS d
        FROM orders
    ),
    clock AS (SELECT max(d) AS today FROM days),
    users AS (
        SELECT user_id, min(d) AS first_day, max(d) AS last_day
        FROM days GROUP BY user_id
    ),
    lifetimes AS (
        SELECT
            u.user_id,
            CASE WHEN u.last_day < c.today - {_SURVIVAL_CHURN_DAYS}
                 THEN 1 ELSE 0 END AS churned,
            CAST(floor(date_diff('day', u.first_day,
                CASE WHEN u.last_day < c.today - {_SURVIVAL_CHURN_DAYS}
                     THEN u.last_day ELSE c.today END) / 7.0) AS BIGINT)
                AS t
        FROM users u CROSS JOIN clock c
    ),
    km AS (
        SELECT t,
               CAST(sum(churned) AS BIGINT) AS n_churned,
               CAST(sum(1 - churned) AS BIGINT) AS n_censored
        FROM lifetimes GROUP BY t
    ),
    risk AS (
        SELECT t, n_churned, n_censored,
               CAST(sum(n_churned + n_censored)
                    OVER (ORDER BY t DESC) AS BIGINT) AS n_risk
        FROM km
    ),
    terms AS (
        SELECT t, n_risk, n_churned, n_censored,
               CAST(round(n_churned * 1000000.0 / n_risk) AS BIGINT)
                   AS hazard_e6,
               CASE WHEN n_churned < n_risk
                    THEN CAST(round(ln(1.0 - n_churned * 1.0 / n_risk)
                                    * 1000000.0) AS BIGINT)
                    ELSE NULL END AS lterm,
               CASE WHEN n_churned >= n_risk THEN 1 ELSE 0 END AS absorbed0
        FROM risk
    )
    SELECT
        CAST(t AS BIGINT) AS t_weeks,
        n_risk,
        n_churned,
        n_censored,
        hazard_e6,
        CAST(sum(lterm) OVER (ORDER BY t) AS BIGINT) AS surv_log_e6,
        CAST(max(absorbed0) OVER (ORDER BY t) AS INT) AS absorbed
    FROM terms
    """,
    tags=("analytics", "Q21", "survival", "R17"),
)
def q21_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21: discrete Kaplan-Meier churn-survival table over user
    lifetimes — the survival-analysis class of product analytics
    (beside funnels, cohorts, and streaks): for each lifetime WEEK t
    (``t_weeks`` = floor(lifetime-days / 7) on both engines),
    how many users were still at risk, how many churned exactly then,
    the discrete hazard, and the running KM survival estimate.

    Lifetime model: a customer's clock starts at their first order; a
    customer whose last order predates the corpus clock by more than
    a year (365 days) is a churn EVENT at their
    last-order day, everyone else is right-CENSORED at the clock — the
    standard inactivity-defined churn with administrative censoring.
    Lifetimes are reported in whole WEEKS (exact integer floor on both
    engines), the survival-curve granularity that keeps the KM table
    calendar-bounded. The orders table is the lifetime source (the
    events corpus spans 30 days with every user active throughout —
    no churn is observable there; order histories span 6+ years).

    Cross-engine float discipline for the survival curve (the X4z
    pattern): S(t) = prod(1 - d/n) is emitted as the SUM OF LOGS with
    each term ln(1 - d/n) rounded ONCE to an e6 BIGINT and then
    exactly integer-summed — a float running product would drift with
    evaluation order; here both engines round identical doubles and
    add identical integers. When d = n_risk (S hits exactly 0, only
    possible at the last event time) the log term is NULL and the
    ``absorbed`` flag marks every row from there on.

    Scale shape: the only fact-sized work is the per-customer min/max
    aggregate; lifetimes are user-sized; the KM table is at most
    |distinct lifetimes| rows (bounded by the observation span in
    days), so the two un-partitioned running windows run over a
    calendar-bounded relation — the reach2-histogram discipline, never
    a node- or event-sized global window. The 1-row clock broadcasts.
    """
    od = table(spark, sf_dir, "orders")
    days = od.select(
        F.col("o_custkey").alias("user_id"),
        F.to_date("o_orderdate").alias("d"),
    )
    clock = days.agg(F.max("d").alias("today"))
    users = days.groupBy("user_id").agg(
        F.min("d").alias("first_day"), F.max("d").alias("last_day")
    )
    churn_cut = F.date_sub(F.col("today"), _SURVIVAL_CHURN_DAYS)
    lifetimes = users.join(F.broadcast(clock)).select(
        F.when(F.col("last_day") < churn_cut, 1).otherwise(0).alias(
            "churned"
        ),
        F.floor(
            F.datediff(
                F.when(F.col("last_day") < churn_cut, F.col("last_day"))
                .otherwise(F.col("today")),
                F.col("first_day"),
            )
            / 7.0
        )
        .cast("bigint")
        .alias("t"),
    )
    km = lifetimes.groupBy("t").agg(
        F.sum("churned").cast("bigint").alias("n_churned"),
        F.sum(1 - F.col("churned")).cast("bigint").alias("n_censored"),
    )
    w_desc = Window.orderBy(F.col("t").desc()).rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = km.select(
        "t",
        "n_churned",
        "n_censored",
        F.sum(F.col("n_churned") + F.col("n_censored"))
        .over(w_desc)
        .cast("bigint")
        .alias("n_risk"),
    )
    terms = risk.select(
        "t",
        "n_risk",
        "n_churned",
        "n_censored",
        F.round(F.col("n_churned") * 1000000.0 / F.col("n_risk"))
        .cast("bigint")
        .alias("hazard_e6"),
        F.when(
            F.col("n_churned") < F.col("n_risk"),
            F.round(
                F.log(1.0 - F.col("n_churned") / F.col("n_risk")) * 1000000.0
            ).cast("bigint"),
        ).alias("lterm"),
        F.when(F.col("n_churned") >= F.col("n_risk"), 1)
        .otherwise(0)
        .alias("absorbed0"),
    )
    w_asc = Window.orderBy("t").rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return terms.select(
        F.col("t").cast("bigint").alias("t_weeks"),
        "n_risk",
        "n_churned",
        "n_censored",
        "hazard_e6",
        F.sum("lterm").over(w_asc).cast("bigint").alias("surv_log_e6"),
        F.max("absorbed0").over(w_asc).cast("int").alias("absorbed"),
    )


@register(
    "q21_cohort_ltv",
    oracle="""
    WITH o AS (
        SELECT
            o_custkey,
            (year(o_orderdate) * 12 + month(o_orderdate)) AS ym,
            CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents
        FROM orders
    ),
    cohorts AS (
        SELECT o_custkey, min(ym) AS cohort_ym FROM o GROUP BY o_custkey
    ),
    sizes AS (
        SELECT cohort_ym, CAST(count(*) AS BIGINT) AS n_customers
        FROM cohorts GROUP BY cohort_ym
    ),
    cells AS (
        SELECT
            c.cohort_ym,
            o.ym - c.cohort_ym AS age_months,
            CAST(sum(o.cents) AS BIGINT) AS revenue_cents
        FROM o JOIN cohorts c USING (o_custkey)
        GROUP BY 1, 2
    ),
    cum AS (
        SELECT
            cohort_ym,
            age_months,
            revenue_cents,
            CAST(sum(revenue_cents) OVER (
                PARTITION BY cohort_ym ORDER BY age_months
            ) AS BIGINT) AS cum_revenue_cents
        FROM cells
    )
    SELECT
        CAST(cohort_ym AS BIGINT) AS cohort_ym,
        CAST(age_months AS BIGINT) AS age_months,
        s.n_customers,
        revenue_cents,
        cum_revenue_cents,
        CAST(round(cum_revenue_cents * 1.0 / s.n_customers) AS BIGINT)
            AS cum_ltv_cents_per_user
    FROM cum JOIN sizes s USING (cohort_ym)
    """,
    tags=("analytics", "Q21", "ltv", "R17"),
)
def q21_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21: cumulative-revenue LTV triangle — cohort month x age.

    The revenue twin of the retention matrix (Q21 cohort_retention
    counts who comes back; this accumulates what they SPEND): every
    customer joins the cohort of their first order month, each order's
    revenue lands in the (cohort, months-since-cohort) cell, and the
    running per-cohort cumulative with a per-capita LTV column is the
    payback-period / LTV-CAC table growth teams actually read.

    Exactness: month arithmetic is pure integers (year*12 + month —
    no interval types to disagree); revenue is the established
    integer-cents discipline (each order's price rounded ONCE to
    cents, then exact BIGINT sums everywhere); the only division is
    the final per-capita projection, rounded once on both engines.

    Scale shape: one fact-sized groupBy builds the first-order map at
    customer dimension; the fact re-joins it on the same o_custkey
    hash layout (co-partitioned — no extra exchange under AQE reuse);
    the triangle itself is |cohorts| x |ages| rows (calendar-bounded),
    so the cumulative window and the size join are free.
    """
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("ym"),
        F.round(F.col("o_totalprice") * 100.0).cast("bigint").alias("cents"),
    )
    cohorts = o.groupBy("o_custkey").agg(F.min("ym").alias("cohort_ym"))
    sizes = cohorts.groupBy("cohort_ym").agg(
        F.count("*").cast("bigint").alias("n_customers")
    )
    cells = (
        o.join(cohorts, "o_custkey")
        .groupBy("cohort_ym", (F.col("ym") - F.col("cohort_ym")).alias(
            "age_months"
        ))
        .agg(F.sum("cents").cast("bigint").alias("revenue_cents"))
    )
    w = Window.partitionBy("cohort_ym").orderBy("age_months").rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = cells.select(
        "cohort_ym",
        "age_months",
        "revenue_cents",
        F.sum("revenue_cents").over(w).cast("bigint").alias(
            "cum_revenue_cents"
        ),
    )
    return cum.join(F.broadcast(sizes), "cohort_ym").select(
        F.col("cohort_ym").cast("bigint").alias("cohort_ym"),
        F.col("age_months").cast("bigint").alias("age_months"),
        "n_customers",
        "revenue_cents",
        "cum_revenue_cents",
        F.round(F.col("cum_revenue_cents") * 1.0 / F.col("n_customers"))
        .cast("bigint")
        .alias("cum_ltv_cents_per_user"),
    )


@register(
    "q21_degree_powerlaw",
    oracle=f"""
    WITH {_COPURCHASE_SQL},
    deg AS (
        SELECT src AS node, CAST(count(*) AS BIGINT) AS d
        FROM edges GROUP BY 1
    ),
    bounds AS (
        SELECT min(d) AS dmin, max(d) AS dmax,
               CAST(count(*) AS BIGINT) AS n
        FROM deg
    ),
    terms AS (
        SELECT b.n, b.dmin, b.dmax,
               CAST(round(ln(deg.d * 1.0 / b.dmin) * 1000000.0) AS BIGINT)
                   AS lterm
        FROM deg CROSS JOIN bounds b
    )
    SELECT
        CAST(max(n) AS BIGINT) AS n_nodes,
        CAST(max(dmin) AS BIGINT) AS d_min,
        CAST(max(dmax) AS BIGINT) AS d_max,
        CAST(sum(lterm) AS BIGINT) AS sum_ln_e6,
        CASE WHEN sum(lterm) > 0
             THEN CAST(1000000 + round(max(n) * 1000000000000.0
                                       / sum(lterm)) AS BIGINT)
             ELSE NULL END AS alpha_e6
    FROM terms
    """,
    tags=("analytics", "Q21", "graph", "skew"),
)
def q21_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21: power-law tail exponent of the co-purchase degree
    distribution — the continuous-MLE alpha-hat (Clauset/Shalizi/
    Newman form: alpha = 1 + n / sum ln(d / d_min)) that quantifies
    HOW skewed the graph is. This closes the skew-discipline loop:
    heavy-hitters (Q7y) names the hot keys, this measures the tail
    exponent that decides whether degree-capping (reach2) and salting
    (Q10's battery) are necessary — alpha near 2 means hub fan-out
    dominates every hop join; alpha above 3 means the tail is benign.

    Exactness (the X4z discipline): each node's ln(d/d_min) is
    rounded ONCE to an e6 BIGINT, the sum is exact integer, and the
    final alpha divides two exact integers with one rounding on both
    engines. All-equal degrees (sum = 0) yield NULL alpha rather than
    a division blow-up.

    Scale shape: the degree table is one count over the edge list;
    bounds are a 1-row broadcast; the log-term pass and the final
    1-row rollup ride the degree table's layout. Nothing here exceeds
    node-dimension size.
    """
    edges = _copurchase_edges(spark, sf_dir)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("bigint").alias("d")
    )
    bounds = deg.agg(
        F.min("d").alias("dmin"),
        F.max("d").alias("dmax"),
        F.count("*").cast("bigint").alias("n"),
    )
    terms = deg.crossJoin(F.broadcast(bounds)).select(
        "n",
        "dmin",
        "dmax",
        F.round(F.log(F.col("d") * 1.0 / F.col("dmin")) * 1000000.0)
        .cast("bigint")
        .alias("lterm"),
    )
    return terms.agg(
        F.max("n").cast("bigint").alias("n_nodes"),
        F.max("dmin").cast("bigint").alias("d_min"),
        F.max("dmax").cast("bigint").alias("d_max"),
        F.sum("lterm").cast("bigint").alias("sum_ln_e6"),
        F.when(
            F.sum("lterm") > 0,
            (
                F.lit(1000000)
                + F.round(
                    F.max("n") * 1000000000000.0 / F.sum("lterm")
                )
            ).cast("bigint"),
        ).alias("alpha_e6"),
    )


#: k-core threshold and unrolled peel rounds (fixed for oracle parity,
#: like PageRank's 3 power iterations).
_KCORE_K = 3
_KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    """Stacked-CTE spelling of the unrolled peel (built by loop so the
    round count stays a single constant)."""
    parts = [
        f"""
    WITH {_COPURCHASE_SQL},
    e0 AS (SELECT src, dst FROM edges)"""
    ]
    for r in range(_KCORE_ROUNDS):
        parts.append(
            f""",
    k{r} AS (
        SELECT src FROM e{r} GROUP BY src
        HAVING count(*) >= {_KCORE_K}
    ),
    e{r + 1} AS (
        SELECT e.src, e.dst
        FROM e{r} e
        JOIN k{r} a ON a.src = e.src
        JOIN k{r} b ON b.src = e.dst
    )"""
        )
    parts.append(
        f"""
    SELECT src AS part, CAST(count(*) AS BIGINT) AS deg_in_core
    FROM e{_KCORE_ROUNDS}
    GROUP BY src"""
    )
    return "".join(parts)


@register(
    "q21_kcore_peel",
    oracle=_kcore_oracle(),
    tags=("analytics", "Q21", "graph"),
)
def q21_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21: k-core decomposition (3 unrolled peel rounds and K=3 —
    ``_KCORE_ROUNDS`` / ``_KCORE_K``) over the co-purchase graph — the
    fifth graph class in
    the battery (after PageRank's fixed-point, label propagation's
    components, reach2's bounded closure, and triangle counting's
    closed wedges).

    The k-core is the maximal subgraph where every node keeps degree
    ≥ K — the standard dense-community / graph-degeneracy primitive
    (a part in the 3-core sits in a bundle web that survives removing
    every weakly-attached product). Peeling: drop nodes with degree
    < K, recompute degrees on the induced subgraph, repeat. Like
    PageRank's 3 power iterations, the round count is FIXED and
    mirrored in the oracle's stacked CTEs so both engines compute the
    identical partial peel; production iterates to fixpoint with the
    label-propagation convergence pattern (one O(1)-row check per
    round), and the docstring of that loop — not a different algebra —
    is the only delta. On this corpus the peel converges within the
    unrolled rounds.

    Scale shape: each round is one degree aggregate (node-sized) + two
    left-semi hash joins of the shrinking edge list against the
    shrinking keep-set — work is monotonically DECREASING per round
    (the first round's degree agg is the peak); no window, no
    cartesian, no driver-side data. Degrees never materialize per-edge
    state beyond the partial-agg.
    """
    # Each round references the previous edge list TWICE (degree agg +
    # the filtered survivor), so an unpersisted chain re-evaluates the
    # basket build 2^rounds times. Persist per round — the iterative
    # discipline label propagation uses (lifecycle: bench/check_oracle
    # clearCache between queries; production checkpoints the shrinking
    # edge list per peel, which is also what bounds lineage depth when
    # the fixpoint loop replaces the fixed unroll).
    edges = _copurchase_edges(spark, sf_dir).select("src", "dst").persist()
    for _ in range(_KCORE_ROUNDS):
        # keep is consumed by BOTH semi-joins (src side + dst side);
        # persisting it (r18) computes the round's degree aggregate
        # once instead of once per broadcast build. Nothing unpersists
        # it: like each round's edges, every round's keep stays cached
        # until the caller's clearCache.
        keep = (
            edges.groupBy("src")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= _KCORE_K)
            .select("src")
            .persist()
        )
        edges = edges.join(keep, "src", "left_semi").join(
            keep.select(F.col("src").alias("dst")), "dst", "left_semi"
        ).persist()
    return edges.groupBy(F.col("src").alias("part")).agg(
        F.count("*").cast("bigint").alias("deg_in_core")
    )


#: Adamic-Adar geometry: report the top-N predicted (non-)edges.
_AA_TOP_N = 50

#: The Adamic-Adar tail in oracle SQL: score the ``wedges`` relation
#: ``(part_a, part_b, term_e6)``, drop pairs that are already edges,
#: rank the rest and keep the top ``_AA_TOP_N``.
_AA_TOP_SQL = f"""scored AS (
        SELECT part_a, part_b,
               CAST(count(*) AS BIGINT) AS common_neighbors,
               CAST(sum(term_e6) AS BIGINT) AS aa_score_e6
        FROM wedges
        GROUP BY 1, 2
    ),
    nonedge AS (
        SELECT * FROM scored s
        WHERE NOT EXISTS (
            SELECT 1 FROM edges e
            WHERE e.src = s.part_a AND e.dst = s.part_b
        )
    )
    SELECT CAST(rank AS BIGINT) AS rank,
           part_a, part_b, common_neighbors, aa_score_e6
    FROM (
        SELECT part_a, part_b, common_neighbors, aa_score_e6,
               row_number() OVER (
                   ORDER BY aa_score_e6 DESC, part_a ASC, part_b ASC
               ) AS rank
        FROM nonedge
    )
    WHERE rank <= {_AA_TOP_N}"""


def _aa_term_e6(deg: Column) -> Column:
    """A wedge center's Adamic-Adar weight, round(1e6 / ln(DEG)) as a
    BIGINT: the one transcendental, quantized ONCE so pair scores are
    exact BIGINT sums that both engines add identically in any order
    (the ln-once-then-integer-fold rule of x04_lm_quality_score)."""
    return (
        F.round(F.lit(1_000_000.0) / F.log(deg))
        .cast("bigint")
        .alias("term_e6")
    )


def _aa_top(wedges: DataFrame, edges: DataFrame) -> DataFrame:
    """Score WEDGES ``(part_a, part_b, term_e6)`` per pair, drop the
    pairs already in EDGES (left-anti), and rank the top
    ``_AA_TOP_N`` by score then ids: a distributed
    TakeOrderedAndProject (never a global sort), then ``row_number``
    over its N rows."""
    scored = wedges.groupBy("part_a", "part_b").agg(
        F.count("*").cast("bigint").alias("common_neighbors"),
        F.sum("term_e6").cast("bigint").alias("aa_score_e6"),
    )
    nonedge = scored.join(
        edges,
        (scored.part_a == edges.src) & (scored.part_b == edges.dst),
        "left_anti",
    )
    order = (
        F.col("aa_score_e6").desc(),
        F.col("part_a").asc(),
        F.col("part_b").asc(),
    )
    top = nonedge.orderBy(*order).limit(_AA_TOP_N)
    return top.withColumn(
        "rank", F.row_number().over(Window.orderBy(*order)).cast("bigint")
    ).select("rank", "part_a", "part_b", "common_neighbors", "aa_score_e6")


@register(
    "q21_adamic_adar",
    oracle=f"""
    WITH {_COPURCHASE_SQL},
    term AS (
        -- deg >= 2: a deg-1 node can never be a wedge center, and at
        -- deg=1 ln(deg)=0 diverges cross-engine (Spark round(Inf) ->
        -- Long.MaxValue, DuckDB CAST(round(inf) AS BIGINT) -> NULL) —
        -- keep the divergent row out of the relation entirely.
        SELECT src AS v,
               CAST(round(1000000.0 / ln(count(*))) AS BIGINT) AS term_e6
        FROM edges GROUP BY 1
        HAVING count(*) >= 2
    ),
    wedges AS (
        SELECT a.dst AS part_a, b.dst AS part_b, t.term_e6
        FROM edges a
        JOIN edges b ON a.src = b.src AND a.dst < b.dst
        JOIN term t ON t.v = a.src
    ),
    {_AA_TOP_SQL}
    """,
    tags=("analytics", "graph", "link-prediction"),
)
def q21_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21: Adamic-Adar link prediction — the sixth graph class
    (after components, PageRank, triangles, reach2, k-core): score
    NON-edges by their common neighborhood, down-weighting hub
    neighbors by 1/ln(deg) — "which parts will be co-purchased next".

    Scale shape: one wedge join (edges ⋈ edges on the center vertex =
    ONE shuffle on v), one (part_a, part_b) aggregation, then the
    shared top-N tail (:func:`_aa_top`). Wedge fan-out is Σ deg(v)² —
    on a skewed graph the hub centers dominate, which is why the basket
    floor prunes singleton pairs first; ``q21_adamic_adar_capped`` is
    the hub-capped form, and this unfiltered exact form is the
    semantics the oracle checks here.
    """
    edges = _copurchase_edges(spark, sf_dir).persist()
    term = (
        edges.groupBy(F.col("src").alias("v"))
        .agg(F.count("*").alias("deg"))
        # deg >= 2 mirrors the oracle's HAVING: deg-1 nodes are never
        # wedge centers, and their ln(1)=0 term is a cross-engine
        # divergence trap (Spark round(Inf)->Long.MaxValue vs DuckDB
        # NULL) if this relation is ever reused.
        .filter(F.col("deg") >= 2)
        .select("v", _aa_term_e6(F.col("deg")))
    )
    a = edges.select(F.col("src").alias("v"), F.col("dst").alias("part_a"))
    b = edges.select(F.col("src").alias("v"), F.col("dst").alias("part_b"))
    wedges = a.join(b, "v").filter(F.col("part_a") < F.col("part_b"))
    return _aa_top(wedges.join(term, "v"), edges)


@register(
    "q21_adamic_adar_capped",
    oracle=f"""
    WITH {_COPURCHASE_SQL},
    deg AS (
        SELECT src AS v, CAST(count(*) AS BIGINT) AS deg
        FROM edges GROUP BY 1
    ),
    {_DEGREE_CAP_SQL},
    term AS (
        -- capped centers only: deg in [2, p95-cap]. deg >= 2 keeps the
        -- ln(1)=0 divergence out (see q21_adamic_adar); deg <= cap is
        -- the hub guard under audit.
        SELECT v, CAST(round(1000000.0 / ln(deg)) AS BIGINT) AS term_e6
        FROM deg, cap
        WHERE deg >= 2 AND deg <= cap.cap
    ),
    wedges AS (
        SELECT a.dst AS part_a, b.dst AS part_b, t.term_e6
        FROM edges a
        JOIN term t ON t.v = a.src
        JOIN edges b ON a.src = b.src AND a.dst < b.dst
    ),
    {_AA_TOP_SQL}
    """,
    tags=("analytics", "graph", "link-prediction", "skew"),
)
def q21_adamic_adar_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21: Adamic-Adar with the hub-cap made PHYSICAL (r08 verdict
    item 4) — wedge centers above the p95 degree cap are excluded from
    the self-join, so the Σ deg(v)² fan-out is bounded by
    cap²·|centers| instead of being dominated by a handful of hubs.
    This is the declared semantics of the entry (capped AA, the form a
    100 TB deployment runs), not an approximation the oracle forgives:
    the oracle applies the identical cap, so both engines score the
    identical wedge set. The exact form stays graded as
    ``q21_adamic_adar``.

    The 1/ln(deg) term relation, already restricted to capped centers,
    is inner-joined to the a-side BEFORE the wedge self-join, so the
    cap prunes the join INPUT rather than its output. Hub parts still
    appear as wedge ENDPOINTS via their capped neighbors; they just
    stop being O(deg²) centers — the standard capped-AA trade (Σ
    capped-deg² work for a provably-bounded stage).
    """
    edges = _copurchase_edges(spark, sf_dir).persist()
    deg = edges.groupBy(F.col("src").alias("v")).agg(
        F.count("*").alias("deg")
    )
    term = (
        deg.join(F.broadcast(_degree_cap(deg)))
        .filter((F.col("deg") >= 2) & (F.col("deg") <= F.col("cap")))
        .select("v", _aa_term_e6(F.col("deg")))
    )
    a = edges.select(F.col("src").alias("v"), F.col("dst").alias("part_a"))
    b = edges.select(F.col("src").alias("v"), F.col("dst").alias("part_b"))
    # term ⋈ a BEFORE the self-join: the cap prunes the wedge input.
    wedges = (
        a.join(term, "v")
        .join(b, "v")
        .filter(F.col("part_a") < F.col("part_b"))
    )
    return _aa_top(wedges, edges)
