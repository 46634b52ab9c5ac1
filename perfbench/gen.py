"""Seeded input generator for the benchmark workloads.

Everything a workload reads comes from here, as parquet files under one
output directory, plus a ``manifest.json`` describing them. The same
``seed`` always gives byte-identical files (``tests/test_perfbench.py``
pins this); the seed changes values, never sizes, so run-to-run cost
differences come from the engine, not from the input volume.

What each workload gets:

* ``ingest_daily``: ``DAYS`` daily drops of dirty-wire posts in the
  engine's ``RAW_POST_SCHEMA`` (all strings except the float epoch),
  carrying the value classes of the reference's golden unit tests
  (padded titles, numeric / empty / garbage score strings, missing
  authors, float ``edited`` timestamps, null flags). From the second day
  on a fixed share of each drop re-sends earlier ids as corrections.
  Alongside, one file of ``events`` per day for the streaming ingest,
  event-time ordered, with a ``ds`` day column and a ``version``
  column; each file after the first also re-sends some earlier event
  ids as corrections whose version is the file number plus one.
* ``adhoc_analytics``: the star schema plus ``events`` in the corpus
  schemas of ``FIXTURES.md`` section B, with Zipf-skewed
  ``o_custkey`` / ``events.user_id`` / ``l_partkey`` keys; and, for the
  curation steps, ``documents`` with planted exact-duplicate and
  near-duplicate families (every pair inside a family has 4-shingle
  Jaccard >= 0.95; unrelated documents share no shingle by
  construction of the vocabulary draw), and ``embeddings`` with planted
  near-copy vectors.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("ingest_daily", "adhoc_analytics")

# --- sizes (fixed; the seed never changes them) ----------------------------
DAYS = 2
POSTS_PER_DAY = 10_000
EVENTS_PER_DAY = 3_000
CORRECTION_SHARE = 0.10

N_CUSTOMERS = 1_500
N_SUPPLIERS = 100
N_PARTS = 2_000
N_ORDERS = 15_000
LINES_PER_ORDER = 4
N_EVENTS = 20_000
N_USERS = 500
ZIPF_S = 1.1

N_BASE_DOCS = 300
REPETITIVE_SHARE = 0.05
EXACT_FAMILY_SHARE = 0.05
NEAR_FAMILY_SHARE = 0.10
N_VECTORS = 400
VEC_DIM = 64
VEC_COPY_SHARE = 0.05

STREAM_CORRECTION_SHARE = 0.03

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
LANGS = ("en", "de", "fr", "es", "zh")
_SYLLABLES = (
    "ka ri to me shu lan dor pe vi zo na gel tra mon qui bex sol fa ru "
    "hin"
).split()
#: 400 distinct two-syllable words, fixed across seeds.
VOCAB = tuple(a + b for a in _SYLLABLES for b in _SYLLABLES)

POST_DAY0 = dt.datetime(2024, 3, 9, tzinfo=dt.timezone.utc)
EVENT_T0 = dt.datetime(2024, 1, 1)

RAW_POST_SCHEMA = pa.schema(
    [
        pa.field("id", pa.string(), nullable=False),
        ("title", pa.string()),
        ("score", pa.string()),
        ("num_comments", pa.string()),
        ("author", pa.string()),
        ("created_utc", pa.float64()),
        ("url", pa.string()),
        ("over_18", pa.string()),
        ("edited", pa.string()),
        ("spoiler", pa.string()),
        ("stickied", pa.string()),
    ]
)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per table, so adding a table never shifts
    the values of another."""
    return np.random.default_rng([seed, sum(map(ord, stream)) * 7919 + len(stream)])


def _zipf(rng: np.random.Generator, n_keys: int, size: int) -> np.ndarray:
    """Bounded Zipf(ZIPF_S) draws over ``n_keys`` keys, key k having rank
    k. The hot keys are the same for every seed, so they hash to the same
    shuffle partitions and the skew a run meets does not vary by seed."""
    p = 1.0 / np.arange(1, n_keys + 1) ** ZIPF_S
    return rng.choice(n_keys, size=size, p=p / p.sum()).astype(np.int64)


def _pick(rng: np.random.Generator, values, size: int, p=None) -> list:
    return [values[i] for i in rng.choice(len(values), size=size, p=p)]


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


# --- ingest_daily ----------------------------------------------------------


def _wire(rng: np.random.Generator, values, classes, p) -> list:
    """Dirty-wire rendering: each value is replaced, with probability p[i],
    by the i-th class; ``None`` in ``classes`` keeps the clean value."""
    out = []
    picks = rng.choice(len(classes), size=len(values), p=p)
    for v, k in zip(values, picks):
        out.append(v if classes[k] is None else classes[k])
    return out


def _posts(rng: np.random.Generator, ids, created) -> dict:
    n = len(ids)
    words = [" ".join(_pick(rng, VOCAB, 3)) for _ in range(n)]
    title = _wire(rng, words, [None, "  Messy Title  ", "", "__NULL__"], [0.85, 0.05, 0.05, 0.05])
    title = [None if t == "__NULL__" else t for t in title]
    pad = rng.random(n) < 0.05
    title = [f"  {t}  " if (p and t) else t for t, p in zip(title, pad)]
    score = [str(int(s)) for s in rng.integers(0, 50_000, n)]
    score = _wire(rng, score, [None, "", "not-a-number", "__NULL__"], [0.85, 0.05, 0.05, 0.05])
    comments = [str(int(c)) for c in rng.integers(0, 2_000, n)]
    comments = _wire(rng, comments, [None, "", "__NULL__"], [0.9, 0.05, 0.05])
    author = [f"user_{int(a)}" for a in rng.integers(0, 5_000, n)]
    author = _wire(rng, author, [None, "", "__NULL__"], [0.9, 0.05, 0.05])
    flags = {
        name: _pick(rng, ["false", "true", "", "__NULL__"], n, [0.7, 0.1, 0.1, 0.1])
        for name in ("over_18", "spoiler", "stickied")
    }
    edited = _pick(
        rng,
        ["false", "true", "1710000123.0", "__NULL__"],
        n,
        [0.6, 0.1, 0.2, 0.1],
    )
    url = [f"https://www.reddit.com/r/dataengineering/{i}" for i in ids]
    url = _wire(rng, url, [None, "__NULL__"], [0.95, 0.05])

    def nul(col):
        return [None if v == "__NULL__" else v for v in col]

    return {
        "id": list(ids),
        "title": title,
        "score": nul(score),
        "num_comments": nul(comments),
        "author": nul(author),
        "created_utc": list(created),
        "url": nul(url),
        "over_18": nul(flags["over_18"]),
        "edited": nul(edited),
        "spoiler": nul(flags["spoiler"]),
        "stickied": nul(flags["stickied"]),
    }


def gen_ingest(seed: int, out: str) -> dict:
    rng = _rng(seed, "posts")
    correctable: list[tuple[str, float]] = []
    drops = []
    n_corr = int(POSTS_PER_DAY * CORRECTION_SHARE)
    for day in range(DAYS):
        date = POST_DAY0 + dt.timedelta(days=day)
        n_new = POSTS_PER_DAY - (n_corr if day else 0)
        ids = [f"{day:02d}{i:06x}" for i in range(n_new)]
        base = date.timestamp()
        created = [float(int(base + s)) for s in rng.integers(0, 86_400, n_new)]
        # A null epoch is a legal wire value; such posts land in the
        # drop's own day partition and are never corrected (their
        # partition could not be derived again from a re-send).
        null_ts = rng.random(n_new) < 0.02
        created = [None if z else c for c, z in zip(created, null_ts)]
        if day:
            picks = rng.choice(len(correctable), size=n_corr, replace=False)
            ids += [correctable[i][0] for i in picks]
            created += [correctable[i][1] for i in picks]
        correctable += [(i, c) for i, c in zip(ids[:n_new], created[:n_new]) if c is not None]
        cols = _posts(rng, ids, created)
        order = rng.permutation(len(ids))
        table = pa.table({k: [v[i] for i in order] for k, v in cols.items()}, schema=RAW_POST_SCHEMA)
        path = os.path.join("drops", f"day_{day:02d}.parquet")
        _write(table, os.path.join(out, path))
        drops.append({"path": path, "date": date.strftime("%Y-%m-%d"), "rows": len(ids)})
    return {"drops": drops, "event_files": gen_stream(seed, out)}


# --- adhoc_analytics -------------------------------------------------------


def _days(rng, lo: dt.datetime, hi: dt.datetime, size: int) -> np.ndarray:
    span = (hi - lo).days
    base = np.datetime64(lo, "us")
    return base + rng.integers(0, span, size).astype("timedelta64[D]")


def gen_star(seed: int, out: str) -> None:
    corpus = os.path.join(out, "corpus")
    rng = _rng(seed, "star")
    _write(
        pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}),
        os.path.join(corpus, "region.parquet"),
    )
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        os.path.join(corpus, "nation.parquet"),
    )
    _write(
        pa.table(
            {
                "c_custkey": pa.array(range(N_CUSTOMERS), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
                "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS), pa.int32()),
                "c_acctbal": np.round(rng.uniform(-999, 9999, N_CUSTOMERS), 2),
                "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMERS),
            }
        ),
        os.path.join(corpus, "customer.parquet"),
    )
    _write(
        pa.table(
            {
                "s_suppkey": pa.array(range(N_SUPPLIERS), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)],
                "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIERS), pa.int32()),
                "s_acctbal": np.round(rng.uniform(-999, 9999, N_SUPPLIERS), 2),
            }
        ),
        os.path.join(corpus, "supplier.parquet"),
    )
    price = np.round(900 + rng.integers(0, 20_000, N_PARTS) / 10, 2)
    _write(
        pa.table(
            {
                "p_partkey": pa.array(range(N_PARTS), pa.int64()),
                "p_name": [" ".join(_pick(rng, VOCAB, 2)) for _ in range(N_PARTS)],
                "p_brand": [f"Brand#{int(b)}" for b in rng.integers(1, 26, N_PARTS)],
                "p_type": _pick(rng, ("ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL"), N_PARTS),
                "p_size": pa.array(rng.integers(1, 51, N_PARTS), pa.int32()),
                "p_retailprice": price,
            }
        ),
        os.path.join(corpus, "part.parquet"),
    )
    odate = _days(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), N_ORDERS)
    _write(
        pa.table(
            {
                "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
                "o_custkey": _zipf(rng, N_CUSTOMERS, N_ORDERS),
                "o_orderstatus": _pick(rng, ("F", "O", "P"), N_ORDERS),
                "o_totalprice": np.round(rng.uniform(1_000, 500_000, N_ORDERS), 2),
                "o_orderdate": pa.array(odate, pa.timestamp("us")),
                "o_orderpriority": _pick(rng, PRIORITIES, N_ORDERS),
            }
        ),
        os.path.join(corpus, "orders.parquet"),
    )
    n_lines = N_ORDERS * LINES_PER_ORDER
    lorder = rng.integers(0, N_ORDERS, n_lines)
    lpart = _zipf(rng, N_PARTS, n_lines)
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    ship = odate[lorder] + rng.integers(1, 121, n_lines).astype("timedelta64[D]")
    _write(
        pa.table(
            {
                "l_orderkey": pa.array(lorder, pa.int64()),
                "l_partkey": lpart,
                "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, n_lines), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_lines), pa.int32()),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * price[lpart], 2),
                "l_discount": rng.integers(0, 11, n_lines) / 100.0,
                "l_tax": rng.integers(0, 9, n_lines) / 100.0,
                "l_returnflag": _pick(rng, ("A", "N", "R"), n_lines),
                "l_linestatus": _pick(rng, ("F", "O"), n_lines),
                "l_shipdate": pa.array(ship, pa.timestamp("us")),
            }
        ),
        os.path.join(corpus, "lineitem.parquet"),
    )
    _write(_events(_rng(seed, "events"), N_EVENTS), os.path.join(corpus, "events.parquet"))


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    offsets = rng.integers(0, 30 * 86_400 * 1_000_000, n)
    return pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(np.datetime64(EVENT_T0, "us") + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": _zipf(rng, N_USERS, n),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": rng.integers(1, 50_000, n) / 100.0,
            "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n)],
        }
    )


# --- adhoc_analytics: documents and embeddings ----------------------------


def gen_documents(seed: int, out: str) -> dict:
    """Documents with planted duplicate families.

    Near-duplicate variants differ from their base only at the ends
    (one appended token, or the first or last token replaced), which
    changes at most two 4-shingles of a 60-120 token document: every
    in-family pair has Jaccard >= 0.95, so MinHash-LSH (8 bands x 2
    rows) misses one with probability below 1e-8.
    """
    rng = _rng(seed, "documents")
    texts: list[list[str]] = []
    families: list[list[int]] = []
    for _ in range(N_BASE_DOCS):
        if rng.random() < REPETITIVE_SHARE:
            phrase = _pick(rng, VOCAB, 5)
            texts.append(phrase * int(rng.integers(10, 20)))
        else:
            texts.append(_pick(rng, VOCAB, int(rng.integers(60, 121))))
    n_base = len(texts)
    bases = rng.permutation(n_base)
    n_exact = int(n_base * EXACT_FAMILY_SHARE)
    n_near = int(n_base * NEAR_FAMILY_SHARE)
    for b in bases[:n_exact]:
        fam = [int(b)]
        for _ in range(int(rng.integers(1, 3))):
            fam.append(len(texts))
            texts.append(list(texts[b]))
        families.append(fam)
    for b in bases[n_exact : n_exact + n_near]:
        fam = [int(b)]
        for v in range(int(rng.integers(1, 4))):
            toks = list(texts[b])
            new = VOCAB[int(rng.integers(0, len(VOCAB)))]
            if v == 0:
                toks.append(new)
            elif v == 1:
                toks[-1] = new
            else:
                toks[0] = new
            fam.append(len(texts))
            texts.append(toks)
        families.append(fam)
    docs = [" ".join(t) for t in texts]
    n = len(docs)
    _write(
        pa.table(
            {
                "doc_id": pa.array(range(n), pa.int64()),
                "text": docs,
                "lang": _pick(rng, LANGS, n),
                "source": [f"src{int(s)}" for s in rng.integers(0, 20, n)],
                "n_chars": pa.array([len(d) for d in docs], pa.int64()),
            }
        ),
        os.path.join(out, "corpus", "documents.parquet"),
    )
    planted = sorted(
        (min(a, b), max(a, b)) for fam in families for i, a in enumerate(fam) for b in fam[i + 1 :]
    )
    return {"planted_pairs": planted, "families": families, "n_docs": n}


def gen_embeddings(seed: int, out: str) -> None:
    rng = _rng(seed, "embeddings")
    vecs = rng.normal(0.0, 0.15, (N_VECTORS, VEC_DIM))
    n_copy = int(N_VECTORS * VEC_COPY_SHARE)
    src = rng.choice(N_VECTORS // 2, size=n_copy, replace=False)
    dst = N_VECTORS // 2 + rng.choice(N_VECTORS - N_VECTORS // 2, size=n_copy, replace=False)
    vecs[dst] = vecs[src] + rng.normal(0.0, 1e-4, (n_copy, VEC_DIM))
    vecs = np.clip(vecs, -1.0, 1.0).astype(np.float32)
    _write(
        pa.table(
            {
                "vec_id": pa.array(range(N_VECTORS), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, N_VECTORS), pa.int32()),
            }
        ),
        os.path.join(out, "corpus", "embeddings.parquet"),
    )


# --- ingest_daily: the event files ---------------------------------------


def gen_stream(seed: int, out: str) -> list[dict]:
    """One event-time ordered file per day (file k holds day k's events),
    so the stream never sees late data."""
    rng = _rng(seed, "stream")
    n_events = EVENTS_PER_DAY * DAYS
    ts = np.sort(rng.integers(0, DAYS * 86_400 * 1_000_000, n_events))
    base = _events(rng, n_events).to_pydict()
    bounds = np.searchsorted(ts, np.arange(DAYS + 1) * 86_400 * 1_000_000)
    n_corr = int(EVENTS_PER_DAY * STREAM_CORRECTION_SHARE)
    t0 = np.datetime64(POST_DAY0.replace(tzinfo=None), "us")
    files = []
    for f in range(DAYS):
        lo, hi = bounds[f], bounds[f + 1]
        idx = list(range(lo, hi))
        cols = {k: [v[i] for i in idx] for k, v in base.items()}
        cols["ts"] = list(ts[lo:hi])
        cols["version"] = [1] * len(idx)
        if f:
            # corrections: earlier ids re-sent now (event time inside this
            # file's slice), with a revised value and a version above any
            # earlier one, so keep-latest has no ties
            old = rng.choice(lo, size=n_corr, replace=False)
            when = rng.integers(ts[lo], ts[hi - 1] + 1, n_corr)
            for i, t in zip(old, when):
                cols["event_id"].append(base["event_id"][i])
                cols["ts"].append(t)
                cols["user_id"].append(base["user_id"][i])
                cols["event_type"].append(base["event_type"][i])
                cols["value"].append(round(base["value"][i] * 1.5, 2))
                cols["props"].append(base["props"][i])
                cols["version"].append(f + 1)
            order = np.argsort(np.array(cols["ts"]), kind="stable")
            cols = {k: [v[i] for i in order] for k, v in cols.items()}
        stamps = t0 + np.array(cols["ts"]).astype("timedelta64[us]")
        cols["ts"] = pa.array(stamps, pa.timestamp("us", tz="UTC"))
        cols["ds"] = pa.array(stamps.astype("datetime64[D]"), pa.date32())
        cols["version"] = pa.array(cols["version"], pa.int32())
        path = os.path.join("events", f"part-{f:05d}.parquet")
        _write(pa.table(cols), os.path.join(out, path))
        files.append({"path": path, "rows": len(stamps)})
    return files


def generate(workload: str, seed: int, out: str) -> dict:
    """Write ``workload``'s inputs for ``seed`` under ``out``; return the
    manifest (also written to ``out/manifest.json``). Paths in the
    manifest are relative to ``out``, so the bytes do not depend on it."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; expected one of {WORKLOADS}")
    manifest: dict = {"workload": workload, "seed": seed, "corpus_dir": "corpus"}
    if workload == "ingest_daily":
        manifest.update(gen_ingest(seed, out))
    else:
        gen_star(seed, out)
        manifest.update(gen_documents(seed, out))
        gen_embeddings(seed, out)
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest
