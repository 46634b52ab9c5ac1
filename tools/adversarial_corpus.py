#!/usr/bin/env python
"""Adversarial same-schema corpus generator — the latent-divergence probe.

The driver regenerates the fixture corpus between rounds, so an oracle
that is green today can hash-fail tomorrow on a value class the current
fixtures simply never exhibit (the round-7 advice items were exactly
this: empty payloads, float/string JSON values, NULLS-FIRST vs -LAST —
all invisible on the committed corpus). This tool generates a corpus
with the SAME ten schemas and the same broad shape, but saturated with
the hostile classes:

- timestamp TIES within a user (window tie-break determinism),
- duplicate-(user_id, ts) event pairs with equal AND distinct values
  (same-key same-instant rows: only the (ts, event_id) tiebreak orders
  them deterministically across engines' sort stability),
- extreme float values (-0.0 sign-bit survival through agg/round paths,
  the 5e-324 denormal, a domain-edge dominance magnitude — see
  tables.VALUE_DOMAINS for why the corpus stops at ±1e3),
- exact half-cent / half-e4 price boundaries (rounding discipline),
- NULLs in every plausibly-nullable column (value, props, lang, text),
- empty / 1-char / whitespace / unicode / regex-metachar / newline /
  very-long / all-caps / digits-only document texts,
- exact-duplicate and near-duplicate texts (dedup ladder),
- zero vectors, duplicate vectors, 1e-7-apart vectors (cosine ties),
  tiny-norm vectors and large-norm ones at the array-domain edge
  (tables.ARRAY_DOMAINS),
- orphan lineitem order keys (referential violations the dq_report
  family must COUNT, not choke on),
- heavy key skew: a whale customer, a hub part, a whale user,
- singleton groups (one-doc source, one-member label, single-event
  user), an empty nation, a rare 6th event type / extra lang,
- value ties in every top-k input (deterministic tie-break audit).

Usage:
    python tools/adversarial_corpus.py [--out DIR]   # default /tmp/advcorpus
    python tools/check_oracle.py --sf DIR            # the sweep

Deterministic (seeded, no wall clock); writes parquet with dtypes
matching the driver corpus exactly (events.ts/o_orderdate/l_shipdate
timestamp[us], embeddings FLOAT[] of 64, INTEGER vs BIGINT per column).
Never touches /root/testdata.
"""

from __future__ import annotations

import argparse
import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

SEED = 20260814
T0 = dt.datetime(2024, 3, 1, 0, 0, 0)  # a DIFFERENT month than the fixtures
DAYS = 30

EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
MKTSEGS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "PROMO", "LARGE", "STANDARD", "SMALL"]

WORDS = (
    "the a spark data table row column key value join merge sort scan "
    "filter agg window batch stream query part order line customer small "
    "big fast slow hash group dup vector"
).split()


def _ts(rng: random.Random) -> dt.datetime:
    return T0 + dt.timedelta(
        days=rng.randrange(DAYS),
        seconds=rng.randrange(86400),
        microseconds=rng.choice([0, 0, 0, 500000, 1]),
    )


def gen_region() -> dict:
    return {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }


def gen_nation() -> dict:
    return {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION {i:02d}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }


def gen_supplier(rng: random.Random) -> dict:
    bal = [0.005, -1.5, 0.0, 1e7, 2.675, 2.675, 1.115, -0.005, 33.33, 0.015]
    return {
        "s_suppkey": pa.array(range(1, 11), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, 11)],
        "s_nationkey": pa.array(
            [0, 0, 0, 1, 2, 3, 7, 7, 7, 23], pa.int32()
        ),
        "s_acctbal": pa.array(bal, pa.float64()),
    }


def gen_customer(rng: random.Random) -> dict:
    n = 150
    keys = list(range(1, n + 1))
    names = []
    for i in keys:
        if i == 1:
            names.append("Müller™ 😀 customer")
        elif i == 2:
            names.append("")  # empty name
        elif i == 3:
            names.append("O'Brien \"quoted\" \\ backslash")
        else:
            names.append(f"Customer#{i:09d}")
    # nation skew: 100 customers in nation 7, none in nation 24
    nat = [7] * 100 + [rng.randrange(24) for _ in range(n - 100)]
    rng.shuffle(nat)
    bal = []
    for i in keys:
        r = i % 5
        if r == 0:
            bal.append(round(rng.uniform(-999, 9999), 2))
        elif r == 1:
            bal.append(i + 0.005)  # half-cent boundary
        elif r == 2:
            bal.append(0.0)
        elif r == 3:
            bal.append(-i - 0.115)
        else:
            bal.append(1234.5)  # heavy value ties
    return {
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": names,
        "c_nationkey": pa.array(nat, pa.int32()),
        "c_acctbal": pa.array(bal, pa.float64()),
        "c_mktsegment": [MKTSEGS[i % 5] for i in keys],
    }


def gen_part(rng: random.Random) -> dict:
    n = 200
    keys = list(range(1, n + 1))
    names = []
    for i in keys:
        if i == 1:
            names.append("héliotrope 零件 part")
        elif i == 2:
            names.append("x")
        else:
            names.append(
                " ".join(rng.choice(WORDS) for _ in range(3)) + f" part{i}"
            )
    return {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": names,
        # Brand#42 is a singleton; Brand#1 is huge
        "p_brand": ["Brand#42" if i == 1 else f"Brand#{(i % 7) + 1}" for i in keys],
        "p_type": [PTYPES[i % 5] for i in keys],
        "p_size": pa.array(
            [0 if i % 31 == 0 else rng.randrange(1, 51) for i in keys],
            pa.int32(),
        ),
        "p_retailprice": pa.array(
            [i + 0.005 if i % 3 == 0 else round(rng.uniform(1, 2000), 2) for i in keys],
            pa.float64(),
        ),
    }


def gen_orders(rng: random.Random) -> dict:
    n = 1500
    keys = list(range(1, n + 1))
    cust = []
    for i in keys:
        if i <= 300:
            cust.append(42)  # whale customer: 20% of all orders
        else:
            # customers 100..150 place no orders (anti-join probe)
            cust.append(rng.randrange(1, 100))
    prices = []
    for i in keys:
        r = i % 4
        if r == 0:
            prices.append(1000.0)  # massive top-k tie block
        elif r == 1:
            prices.append(i + 0.005)
        elif r == 2:
            prices.append(round(rng.uniform(10, 400000), 2))
        else:
            prices.append(-50.0 if i % 97 == 0 else round(rng.uniform(10, 5000), 2))
    dates = []
    tie_ts = T0 + dt.timedelta(days=3, hours=12)
    for i in keys:
        if i % 10 == 0:
            dates.append(tie_ts)  # 150 orders at the SAME timestamp
        else:
            d = _ts(rng)
            # day 15 is an empty-gap day
            if d.day == 15 + T0.day - 1:
                d = d + dt.timedelta(days=1)
            dates.append(d)
    return {
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(cust, pa.int64()),
        "o_orderstatus": [["O", "F", "P"][i % 3] for i in keys],
        "o_totalprice": pa.array(prices, pa.float64()),
        "o_orderdate": pa.array(dates, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i % 5] for i in keys],
    }


def gen_lineitem(rng: random.Random) -> dict:
    n = 6000
    okey, pkey, skey, lnum = [], [], [], []
    qty, eprice, disc, tax, rflag, lstat, sdate = [], [], [], [], [], [], []
    per_order: dict[int, int] = {}
    for i in range(n):
        if i < 60:
            o = 90000 + i  # orphan order keys (referential violation)
        else:
            o = rng.randrange(1, 1501)
        okey.append(o)
        per_order[o] = per_order.get(o, 0) + 1
        lnum.append(per_order[o])
        # hub part: part 7 appears in ~8% of lines (graph hub probe)
        pkey.append(7 if rng.random() < 0.08 else rng.randrange(1, 201))
        skey.append(rng.randrange(1, 11))
        r = i % 5
        qty.append(0.0 if r == 0 else float(rng.randrange(1, 51)))
        eprice.append(i % 100 + 0.005 if r == 1 else round(rng.uniform(1, 100000), 2))
        disc.append([0.0, 0.005, 0.05, 0.1, 1.0][r])
        tax.append([0.0, 0.02, 0.04, 0.06, 0.08][(i // 5) % 5])
        rflag.append(["A", "N", "R"][i % 3])
        lstat.append(["O", "F"][i % 2])
        sdate.append(_ts(rng))
    return {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(skey, pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(eprice, pa.float64()),
        "l_discount": pa.array(disc, pa.float64()),
        "l_tax": pa.array(tax, pa.float64()),
        "l_returnflag": rflag,
        "l_linestatus": lstat,
        "l_shipdate": pa.array(sdate, pa.timestamp("us")),
    }


_PROPS_POOL = [
    '{"k": 7}',
    '{"k": 0}',
    '{"k": -3}',
    '{"k": 7.5}',          # float — typed-lens divergence class
    '{"k": 7.0}',
    '{"k": "7"}',          # numeric string
    '{"k": "7.5"}',        # fractional numeric string
    '{"k": "abc"}',        # non-numeric string
    '{"k": null}',
    '{"k": {"a": 1}}',     # nested object
    '{"k": [1, 2]}',       # array
    '{"k": 2147483648}',   # int32 overflow
    '{"k": true}',
    '{"j": 1}',            # key absent
    "{}",
    "",                    # empty string
    "{not json",           # malformed
    "null",
    None,                  # NULL props
]


def gen_events(rng: random.Random) -> dict:
    n = 4000
    # event_id stays NON-NULL and unique by design: it is the declared
    # engine-assigned arrival-sequence key (tables.PRIMARY_KEYS ingest
    # contract, enforced by tables.check_ingest_contracts) — a null
    # there is an ingest bug, not a data condition, so the hostile
    # corpus conforms like every real corpus must.
    eid, ts, uid, etype, val, props = [], [], [], [], [], []
    tie_ts = T0 + dt.timedelta(days=5, hours=9, minutes=30)
    for i in range(1, n + 1):
        eid.append(i)
        if i % 311 == 0:
            ts.append(None)  # NULL event time (pre-cleaning ingest rows;
            # probes window NULLS FIRST/LAST mirroring + time-spine drops)
        elif i % 17 == 0:
            ts.append(tie_ts)  # ~235 events at ONE timestamp, many users
        elif i % 23 == 0 and i > 100:
            ts.append(ts[-1])  # consecutive duplicate within stream order
        else:
            ts.append(_ts(rng))
        if i <= 1000:
            uid.append(1)  # whale user: 25% of all events
        elif i == 1001:
            uid.append(999999)  # single-event user
        elif i % 149 == 0:
            uid.append(None)  # NULL user: anonymous events form ONE
            # grouping key on both engines (Spark groupBy null == DuckDB
            # GROUP BY null; window PARTITION BY null partition) —
            # probes every per-user operator's null-group path
            # (round 10: previously zero null user_ids in ANY corpus)
        else:
            uid.append(rng.randrange(2, 300))
        if i % 397 == 0:
            etype.append(None)  # NULL type (clean_coerce defaults these)
        elif i % 251 == 0:
            etype.append("refund")
        else:
            etype.append(EVENT_TYPES[rng.randrange(5)])
        r = i % 7
        if r == 0:
            val.append(None)  # NULL value — fixtures have zero of these
        elif r == 1:
            val.append(i % 50 + 0.00005)  # half-e4 boundary
        elif r == 2:
            val.append(-rng.uniform(0, 100))
        elif r == 3:
            # extreme-value class (round 11): negative zero (IEEE sign
            # bit survives SUM/MIN/round on some paths and not others —
            # a render/hash divergence probe), denormal, and a
            # large-but-finite magnitude (aggregation overflow probe;
            # kept below inf so SUMs stay finite and comparable)
            if i % 21 == 3:
                val.append(-0.0)
            elif i % 21 == 10:
                val.append(5e-324)  # smallest denormal double
            elif i % 21 == 17:
                # dominance magnitude AT the declared domain edge
                # (tables.VALUE_DOMAINS: events.value in ±1e3 — the
                # z-score e4 sum-of-squares exactness headroom). A 1e9
                # probe proved out-of-domain values diverge the engines
                # (BIGINT cast overflow in oracles, double-sum ulp
                # flips) — that's an ingest bug by contract, enforced
                # by tables.check_ingest_contracts, so the corpus
                # stresses the edge, not the far side
                val.append(999.75)
            else:
                val.append(0.0)
        elif r == 4:
            val.append(250.5)  # tie block
        else:
            val.append(round(rng.uniform(0.01, 330), 2))
        props.append(_PROPS_POOL[i % len(_PROPS_POOL)])
        # duplicate-(user_id, ts) tie-stress class (r10 verdict item 6):
        # clone the PREVIOUS event's user and timestamp so event-order
        # windows face same-key same-instant rows that only the
        # (ts, event_id) tiebreak can order deterministically —
        # alternating between EQUAL values (rank/dense_rank tie blocks;
        # any engine-specific sort instability is invisible unless the
        # tiebreak is wrong) and DISTINCT values (lag/lead/first/last
        # diverge immediately if either engine drops the tiebreak).
        if i % 41 == 0 and i > 1001:
            ts[-1] = ts[-2]
            uid[-1] = uid[-2]
            if (i // 41) % 2 == 0:
                val[-1] = val[-2]
    # boundary-tie class (round 12): the strict-vs-inclusive seams no
    # other class can reach. Three synthetic users overwrite the tail
    # index block (ids chosen to PASS the s09 md5 1-in-8 sample, so
    # the replay entries fold them — not just the batch sessionizer):
    #   777002: consecutive events EXACTLY the 30-min session gap
    #           apart — one session under the engines' strict > split,
    #           split under any >= drift on either side;
    #   777007: gap + 1 µs apart — MUST split every time;
    #   777010: events at exact hour boundaries hh:00:00.000000 and
    #           1 µs before the next — tumbling/sliding [start, end)
    #           edge assignment and interval-join end-exclusivity.
    specs: list[tuple[int, dt.datetime]] = []
    b1 = T0 + dt.timedelta(days=2, hours=3)
    for k in range(6):
        specs.append((777002, b1 + k * dt.timedelta(minutes=30)))
    b2 = b1 + dt.timedelta(days=1)
    t = b2
    for _ in range(6):
        specs.append((777007, t))
        t += dt.timedelta(minutes=30, microseconds=1)
    b3 = b1 + dt.timedelta(days=2)
    for k in range(4):
        specs.append((777010, b3 + dt.timedelta(hours=k)))
        specs.append(
            (777010, b3 + dt.timedelta(hours=k + 1, microseconds=-1))
        )
    # calendar-edge subclass: leap day, the last µs of a year, epoch-ish
    # new-year instants, and month-END anchors — month ARITHMETIC must
    # clamp (Jan 31 + 1 month), ISO week-of-year flips at year edges
    # (2024-12-30 is 2025-W01), leap-day trunc/extract must agree.
    for t_ in (
        dt.datetime(2024, 2, 29, 12, 0, 0),
        dt.datetime(2024, 1, 31, 23, 59, 59, 999999),
        dt.datetime(2023, 12, 31, 23, 59, 59, 999999),
        dt.datetime(2024, 1, 1, 0, 0, 0),
        dt.datetime(2024, 12, 30, 0, 0, 0),  # ISO 2025-W01 in 2024
        dt.datetime(2024, 3, 31, 12, 0, 0),
    ):
        specs.append((777010, t_))
    for j, (u, t_) in enumerate(specs):
        idx = n - len(specs) + j
        uid[idx] = u
        ts[idx] = t_
        # alternate click/purchase so the boundary users also plant
        # EXACT-tolerance as-of pairs: 777010's hour-apart pairs sit
        # exactly at q11_asof_tolerance's 1 h staleness bound (both
        # sides spell the identical inclusive <=; this pins the seam
        # against either side drifting), 777002's 30-min pairs at the
        # session-gap bound feed the funnel/attribution orderings too.
        etype[idx] = "click" if j % 2 == 0 else "purchase"
    return {
        "event_id": pa.array(eid, pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(uid, pa.int64()),
        "event_type": etype,
        "value": pa.array(val, pa.float64()),
        "props": props,
    }


def gen_documents(rng: random.Random) -> dict:
    n = 500
    texts: list[str | None] = []
    langs: list[str | None] = []
    sources: list[str] = []
    base_dup = "the quick spark table scans every row " * 3
    near = base_dup.replace("every", "each", 1)
    boiler = "SUBSCRIBE NOW\n" + "real content line one\n" + "SUBSCRIBE NOW\n"
    for i in range(1, n + 1):
        r = i % 25
        if r == 0:
            texts.append("")                       # empty text
        elif r == 1:
            texts.append("x")                      # single char
        elif r == 2:
            texts.append("   \t\n  ")              # whitespace only
        elif r == 3:
            texts.append("!!! ??? ... ;;; ---")    # punctuation only
        elif r == 4:
            texts.append("电光石火 数据 表格 😀🚀 Straße naïve")
        elif r == 5:
            texts.append(("lorem " * 800).strip())  # very long (4800 chars)
        elif r == 6:
            texts.append("THIS DOC IS ALL CAPS SHOUTING LOUDLY")
        elif r == 7:
            texts.append("1234567890 00000 42 42 42")
        elif r == 8:
            texts.append(base_dup)                 # exact-dup block (20 copies)
        elif r == 9:
            texts.append(near)                     # near-dup of the block
        elif r == 10:
            texts.append(boiler * 2)               # cross-doc repeated lines
        elif r == 11:
            texts.append('regex meta: a+b* (c|d) [e-f] {2,3} \\ "quoted" $^')
        elif r == 12:
            texts.append("word\nword\nword\nword\nword")  # dup lines
        elif r == 13:
            texts.append(None)  # NULL text (failed extraction upstream;
            # probes every text op's NULL discipline vs empty-string)
        elif r == 14:
            # astral-plane codepoints (surrogate pairs in UTF-16 land):
            # length/substring/n-gram strides must count code points
            # identically on both engines
            texts.append("music \U0001D11E clef emoji \U0001F600\U0001F3FD tone")
        elif r == 15:
            # combining marks: e + U+0301 (NOT precomposed é) — char
            # counts differ from grapheme counts; both engines must
            # pick the same convention end-to-end
            texts.append("café combining màrks everywhere")
        elif r == 16:
            texts.append("العربية نص rtl mixed العربية text")  # RTL runs
        else:
            texts.append(
                " ".join(rng.choice(WORDS) for _ in range(rng.randrange(8, 120)))
            )
        langs.append(
            None if i % 125 == 3 else ("pt" if i % 125 == 7 else LANGS[i % 5])
        )
        # srcX is a singleton source; src0 holds a third of everything
        if i == 1:
            sources.append("srcX")
        elif i % 3 == 0:
            sources.append("src0")
        else:
            sources.append(f"src{1 + (i % 19)}")
    return {
        "doc_id": pa.array(range(1, n + 1), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": sources,
        "n_chars": pa.array([len(t) if t is not None else 0 for t in texts], pa.int64()),
    }


def gen_embeddings(rng: random.Random) -> dict:
    n = 500
    dim = 64
    vecs: list[list[float]] = []
    labels: list[int | None] = []
    base = [rng.uniform(-1, 1) for _ in range(dim)]
    for i in range(n):
        r = i % 25
        if r == 0:
            vecs.append([0.0] * dim)               # zero vector (cosine 0/0)
        elif r == 1:
            vecs.append(list(base))                # duplicate block (20 copies)
        elif r == 2:
            v = list(base)
            v[0] += 1e-7                           # near-tie with the block
            vecs.append(v)
        elif r == 3:
            vecs.append([x * 1e-20 for x in base])  # tiny norm
        elif r == 4:
            # large norm at the declared domain edge (tables.ARRAY_DOMAINS:
            # +-100; base is in [-1, 1]), as events.value sits at 999.75
            vecs.append([x * 99.0 for x in base])
        elif r == 5:
            vecs.append([-x for x in base])         # antipode
        else:
            vecs.append([rng.uniform(-1, 1) for _ in range(dim)])
        labels.append(8 if i == 0 else (i % 7))  # label 8 is a singleton
    return {
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(
            [[float(x) for x in v] for v in vecs], pa.list_(pa.float32())
        ),
        "label": pa.array(labels, pa.int32()),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/tmp/advcorpus")
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    rng = random.Random(SEED)
    gens = {
        "region": gen_region(),
        "nation": gen_nation(),
        "supplier": gen_supplier(rng),
        "customer": gen_customer(rng),
        "part": gen_part(rng),
        "orders": gen_orders(rng),
        "lineitem": gen_lineitem(rng),
        "events": gen_events(rng),
        "documents": gen_documents(rng),
        "embeddings": gen_embeddings(rng),
    }
    for name, cols in gens.items():
        t = pa.table(cols)
        pq.write_table(t, os.path.join(args.out, f"{name}.parquet"))
        print(f"{name}: {t.num_rows} rows -> {args.out}/{name}.parquet")


if __name__ == "__main__":
    main()
