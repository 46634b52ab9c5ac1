"""Invariant tests for the round-8 fixes and operators.

The oracle gate pins exact values on the fixture corpus; these tests pin
contracts on crafted inputs the fixtures cannot exhibit: zero-length
payloads through the framed-energy spine (Spark's descending-sequence
default would otherwise fabricate frames), and non-numeric VARIANT
values through the typed presence count.
"""

from __future__ import annotations

from pyspark.sql import Row, functions as F

from reddit_data_engineering_project_spark.operators import multimodal
from reddit_data_engineering_project_spark.functions import text as textfns
from reddit_data_engineering_project_spark.registry import ORACLES


def _write_documents(spark, tmp_path, rows):
    """Materialize a crafted documents table as an sf_dir.

    rows: (doc_id, text, source)
    """
    df = spark.createDataFrame(
        [
            Row(
                doc_id=r[0],
                text=r[1],
                lang="en",
                source=r[2],
                n_chars=len(r[1]),
            )
            for r in rows
        ]
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)


def _write_events(spark, tmp_path, rows):
    """Materialize a crafted events table as an sf_dir.

    rows: (event_id, ts_iso, user_id, event_type, value, props_json)
    """
    df = spark.createDataFrame(
        [
            Row(
                event_id=r[0],
                ts=r[1],
                user_id=r[2],
                event_type=r[3],
                value=float(r[4]),
                props=r[5],
            )
            for r in rows
        ]
    ).withColumn("ts", F.to_timestamp("ts"))
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    return str(tmp_path)


# ----------------------------------------------------- payload energy guard


def test_payload_energy_empty_payload_emits_no_frames(spark, tmp_path):
    """An empty payload must produce ZERO frame rows, not the two bogus
    frames Spark's sequence(0, -1) descending default would fabricate
    (ADVICE r7: DuckDB's generate_series(0, -1) is empty, so an
    unguarded spine hash-mismatches on any corpus with empty text)."""
    sf = _write_documents(
        spark,
        tmp_path,
        [(1, "", "web"), (2, "abc", "web"), (3, "x" * 300, "web")],
    )
    out = multimodal.x05_payload_energy(spark, sf).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 1 not in by_doc, "empty payload fabricated frames"
    # 3-byte payload: one frame, 3 samples, exact integer energy.
    (f2,) = by_doc[2]
    assert f2.frame_idx == 0 and f2.n_samples == 3
    assert f2.energy == sum((b - 128) ** 2 for b in b"abc")
    # 300-byte payload: two frames (256 + 44) — framing still intact.
    assert [(r.frame_idx, r.n_samples) for r in sorted(
        by_doc[3], key=lambda r: r.frame_idx)] == [(0, 256), (1, 44)]


# ------------------------------------------------- variant typed presence


def test_variant_shred_nonnumeric_k_counts_as_absent(spark, tmp_path):
    """``n_with_k`` counts rows whose ``k`` is long-castable — a string
    or object value of ``k`` is ABSENT under the typed lens on BOTH
    engines (ADVICE r7: the oracle previously counted any non-null
    ``k``, diverging on non-numeric values)."""
    import duckdb

    rows = [
        (1, "2024-01-01 00:00:00", 10, "view", 1.0, '{"k": 7}'),
        (2, "2024-01-01 00:01:00", 10, "view", 1.0, '{"k": "seven"}'),
        (3, "2024-01-01 00:02:00", 10, "view", 1.0, '{"k": {"a": 1}}'),
        (4, "2024-01-01 00:03:00", 10, "view", 1.0, '{"other": 1}'),
        (5, "2024-01-01 00:04:00", 10, "view", 1.0, '{"k": 5}'),
        # The probed truncation semantics: variant-get-to-long
        # TRUNCATES 7.5 -> 7 (a round would give 8), takes 3.0 -> 3,
        # and parses numeric strings.
        (6, "2024-01-01 00:05:00", 10, "view", 1.0, '{"k": 7.5}'),
        (7, "2024-01-01 00:06:00", 10, "view", 1.0, '{"k": 3.0}'),
        (8, "2024-01-01 00:07:00", 10, "view", 1.0, '{"k": "11"}'),
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = {
        r.event_type: r
        for r in textfns.q17_variant_shred(spark, sf).collect()
    }
    assert got["view"].n_events == 8
    assert got["view"].n_with_k == 5
    assert got["view"].sum_k == 12 + 7 + 3 + 11

    con = duckdb.connect()
    glob = (sf + "/events.parquet/*.parquet").replace("'", "''")
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{glob}')"
    )
    oracle = con.execute(ORACLES["q17_variant_shred"]).fetchall()
    (o,) = oracle
    assert (o[1], o[2], o[3]) == (8, 5, 33)


# --------------------------------------------- s08 stateful replay twin


def test_s08_replay_nulls_occupy_slots_and_match_oracle(spark, tmp_path):
    """The batch replay of the streaming z-score transition function:
    NULL values occupy frame slots but contribute nothing (the corpus
    has no NULL values, so this contract only lives here), and the
    crafted result matches the registered DuckDB oracle exactly."""
    import duckdb
    from pyspark.sql import Row
    from pyspark.sql import functions as FF

    from reddit_data_engineering_project_spark.streaming import (
        stream_queries,
    )

    rows = [
        (1, "2024-01-01 00:00:00", 7, "view", 10.0),
        (2, "2024-01-01 00:01:00", 7, "view", None),
        (3, "2024-01-01 00:02:00", 7, "view", 30.0),
        (4, "2024-01-01 00:03:00", 7, "view", 10.0),
        (5, "2024-01-01 00:00:30", 8, "view", 5.0),
    ]
    df = spark.createDataFrame(
        [
            Row(
                event_id=r[0],
                ts=r[1],
                user_id=r[2],
                event_type=r[3],
                value=r[4],
                props="{}",
            )
            for r in rows
        ]
    ).withColumn("ts", FF.to_timestamp("ts"))
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    sf = str(tmp_path)

    got = {
        r.event_id: r
        for r in stream_queries.s08_stateful_zscore_replay(
            spark, sf
        ).collect()
    }
    assert got[2].value_e4 is None and got[2].z_e4 is None
    # event 3: frame = [10, NULL, 30] -> stats over {10, 30}
    assert got[3].value_e4 == 300000
    import math

    mean, var = 20.0, ((10 - 20) ** 2 + (30 - 20) ** 2) / 1
    z = (30 - mean) / math.sqrt(var)
    assert got[3].z_e4 == int(z * 10000 + 0.5)
    # single-event user: n=1 -> no score
    assert got[5].z_e4 is None

    con = duckdb.connect()
    glob = (sf + "/events.parquet/*.parquet").replace("'", "''")
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{glob}')"
    )
    from reddit_data_engineering_project_spark.registry import ORACLES

    oracle = {
        r[1]: r
        for r in con.execute(
            ORACLES["s08_stateful_zscore_replay"]
        ).fetchall()
    }
    for eid, row in got.items():
        assert (oracle[eid][2], oracle[eid][3]) == (
            row.value_e4,
            row.z_e4,
        ), f"event {eid} diverged from oracle"


# ------------------------------------------------------- k-core fixpoint


def test_kcore_unrolled_rounds_reach_fixpoint(spark):
    """The fixed 3-round unroll converges on the fixture corpus: one
    more peel changes nothing. If a corpus regeneration breaks this,
    the round count (and its oracle CTE stack) must grow together."""
    from conftest import SF_DIR
    from pyspark.sql import functions as F

    from reddit_data_engineering_project_spark.operators import (
        product_analytics as pa,
    )

    core3 = pa.q21_kcore_peel(spark, SF_DIR)
    # One extra peel over the 3-core output's survivors.
    keep = core3.filter(
        F.col("deg_in_core") >= pa._KCORE_K
    ).select(F.col("part"))
    assert core3.join(keep, "part", "left_anti").count() == 0, (
        "a 4th peel round would still remove nodes — grow _KCORE_ROUNDS"
    )


# ---------------------------------------- round-8 op property invariants


def test_hampel_matches_python_reference(spark, tmp_path):
    """Third-engine check (the q22_cusum Python-replay discipline): the
    med2/mad4/flag algebra reproduced with statistics.median over the
    same trailing frames must equal the Spark op row-for-row on a
    crafted multi-user corpus with ties, negatives, and a constant
    run (MAD=0 path)."""
    import statistics

    from pyspark.sql import Row
    from pyspark.sql import functions as FF

    from reddit_data_engineering_project_spark.operators import timeseries

    vals = {
        7: [10.0, 10.0, 10.0, 10.0, 200.5, -3.25, 10.0, 10.0, 10.0, 9.5],
        8: [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 100.0],
    }
    rows = []
    eid = 0
    for uid, vs in vals.items():
        for i, v in enumerate(vs):
            eid += 1
            rows.append(
                Row(
                    event_id=eid,
                    ts=f"2024-01-01 00:{i:02d}:00",
                    user_id=uid,
                    event_type="view",
                    value=v,
                    props="{}",
                )
            )
    df = spark.createDataFrame(rows).withColumn(
        "ts", FF.to_timestamp("ts")
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    got = {
        (r.user_id, r.event_id): r
        for r in timeseries.q22_hampel_mad(spark, str(tmp_path)).collect()
    }

    def half_up(x):
        return int(x * 10000 + 0.5) if x >= 0 else -int(-x * 10000 + 0.5)

    eid = 0
    for uid, vs in vals.items():
        tail = []
        for v in vs:
            eid += 1
            vq = half_up(v)
            tail.append(vq)
            frame = tail[-8:]
            med2 = int(2 * statistics.median(frame))
            devs = sorted(abs(2 * x - med2) for x in frame)
            mad4 = int(2 * statistics.median(devs))
            n = len(frame)
            if n >= 3 and mad4 > 0:
                expect_flag = int(
                    20000 * abs(2 * vq - med2) > 44478 * mad4
                )
            else:
                expect_flag = None
            r = got[(uid, eid)]
            assert (r.value_e4, r.med2, r.mad4, r.is_outlier) == (
                vq,
                med2,
                mad4,
                expect_flag,
            ), f"user {uid} event {eid}"


def test_cms_estimate_never_undercounts(spark):
    """The CMS one-sided-error guarantee on the real corpus: every
    emitted estimate >= its exact count (overcount >= 0). A negative
    overcount means the hash/cell algebra diverged between the sketch
    build and the probe."""
    from conftest import SF_DIR

    from reddit_data_engineering_project_spark.operators import aggregates

    rows = aggregates.q07_cms_heavy_hitters(spark, SF_DIR).collect()
    assert len(rows) == aggregates._CMS_TOP
    assert all(r.overcount >= 0 for r in rows)
    assert all(r.cms_n == r.exact_n + r.overcount for r in rows)


def test_hamming_matches_python_popcount(spark):
    """Packed-word Hamming distances equal a Python big-int popcount
    over the same sign bits, for every emitted (query, neighbor)."""
    from conftest import SF_DIR

    from reddit_data_engineering_project_spark.operators import similarity
    from reddit_data_engineering_project_spark.tables import table

    emb = {
        r.vec_id: r.embedding
        for r in table(spark, SF_DIR, "embeddings").collect()
    }

    def sig(v):
        return sum(1 << i for i, x in enumerate(v) if x > 0)

    out = similarity.x03_hamming_topk(spark, SF_DIR).collect()
    assert len(out) == similarity._N_QUERIES * similarity._TOP_K
    for r in out:
        expect = bin(sig(emb[r.query_id]) ^ sig(emb[r.neighbor_id])).count(
            "1"
        )
        assert r.hamming == expect, (r.query_id, r.neighbor_id)


def test_kcore_survivors_all_meet_degree_floor(spark):
    """After the (fixpoint-pinned) peel, every surviving node's degree
    in the induced subgraph is >= K — the defining k-core property."""
    from conftest import SF_DIR

    from reddit_data_engineering_project_spark.operators import (
        product_analytics as pa,
    )

    rows = pa.q21_kcore_peel(spark, SF_DIR).collect()
    assert rows, "3-core unexpectedly empty on the fixture corpus"
    assert min(r.deg_in_core for r in rows) >= pa._KCORE_K


def test_histogram_quantile_brackets_contain_exact_quantiles(spark):
    """The hard guarantee the histogram sells: the true rank-r value
    lies inside every emitted [lo, hi] bracket (Python rank-select as
    the third engine), and the bracket is at most one bin wide."""
    from conftest import SF_DIR

    from reddit_data_engineering_project_spark.operators import aggregates
    from reddit_data_engineering_project_spark.tables import table
    from pyspark.sql import functions as FF

    cents = sorted(
        r.c
        for r in table(spark, SF_DIR, "lineitem")
        .select(
            FF.round(FF.col("l_extendedprice") * 100.0)
            .cast("bigint")
            .alias("c")
        )
        .collect()
    )
    rows = aggregates.q07_histogram_quantiles(spark, SF_DIR).collect()
    assert sorted(r.pct for r in rows) == sorted(aggregates._HQ_PCTS)
    for r in rows:
        assert r.n_total == len(cents)
        assert r.target_rank == -(-r.pct * len(cents) // 100)  # ceil
        exact = cents[r.target_rank - 1]
        assert r.bin_lo_cents <= exact <= r.bin_hi_cents, (
            f"pct {r.pct}: exact {exact} outside "
            f"[{r.bin_lo_cents}, {r.bin_hi_cents}]"
        )
        assert r.bin_hi_cents - r.bin_lo_cents + 1 == (
            (max(cents) - min(cents)) // aggregates._HQ_BINS + 1
        )


def test_hamming_rerank_recall_dominates_direct_binary_topk(spark):
    """Provable dominance: any true-top-10 member inside the R=50
    candidate set survives the exact-cosine rerank (every candidate
    scoring above it is itself in the true top-10), so rerank hits
    >= hits of the direct binary top-10 for every query."""
    from conftest import SF_DIR

    from reddit_data_engineering_project_spark.operators import similarity

    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.x03_cosine_topk_bruteforce(
            spark, SF_DIR
        ).collect()
    }
    direct_hits = {}
    for r in similarity.x03_hamming_topk(spark, SF_DIR).collect():
        direct_hits.setdefault(r.query_id, 0)
        if (r.query_id, r.neighbor_id) in exact:
            direct_hits[r.query_id] += 1
    rerank = {
        r.query_id: r.n_hits
        for r in similarity.x03_hamming_rerank(spark, SF_DIR).collect()
    }
    assert set(rerank) == set(direct_hits)
    for q, n in rerank.items():
        assert n >= direct_hits[q], (
            f"query {q}: rerank {n} < direct {direct_hits[q]}"
        )


def test_json_typed_lenses_match_oracles_on_float_and_string_k(
    spark, tmp_path
):
    """Round-8 audit: the THREE json-extraction lenses have different
    probed semantics — from_json(IntegerType) accepts only strict
    in-range JSON integers; string-CAST truncates numeric strings
    toward zero; variant-get-to-long truncates any numeric. Each
    oracle must mirror its own lens exactly on floats, numeric
    strings, and negatives (all absent from the fixture corpus)."""
    import duckdb

    from reddit_data_engineering_project_spark.functions import (
        text as textfns,
    )
    from reddit_data_engineering_project_spark.registry import ORACLES

    rows = [
        (1, "2024-01-01 00:00:00", 10, "view", 1.0, '{"k": 7}'),
        (2, "2024-01-01 00:01:00", 10, "view", 1.0, '{"k": 7.5}'),
        (3, "2024-01-01 00:02:00", 10, "view", 1.0, '{"k": 7.0}'),
        (4, "2024-01-01 00:03:00", 10, "view", 1.0, '{"k": "7"}'),
        (5, "2024-01-01 00:04:00", 10, "view", 1.0, '{"k": "-7.5"}'),
        (6, "2024-01-01 00:05:00", 10, "view", 1.0, '{"k": -3}'),
        (7, "2024-01-01 00:06:00", 10, "view", 1.0, '{"k": 9999999999}'),
        # adversarial-sweep classes: booleans, malformed/empty wire,
        # non-scalar k, JSON null literal, NULL props
        (8, "2024-01-01 00:07:00", 10, "view", 1.0, '{"k": true}'),
        (9, "2024-01-01 00:08:00", 10, "view", 1.0, '{"k": false}'),
        (10, "2024-01-01 00:09:00", 10, "view", 1.0, ""),
        (11, "2024-01-01 00:10:00", 10, "view", 1.0, "{not json"),
        (12, "2024-01-01 00:11:00", 10, "view", 1.0, '{"k": [1, 2]}'),
        (13, "2024-01-01 00:12:00", 10, "view", 1.0, "null"),
        (14, "2024-01-01 00:13:00", 10, "view", 1.0, None),
    ]
    sf = _write_events(spark, tmp_path, rows)
    con = duckdb.connect()
    glob = (sf + "/events.parquet/*.parquet").replace("'", "''")
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{glob}')"
    )

    # Lens 1: from_json(IntegerType) — only rows 1 and 6 yield k.
    jf = {
        r.event_id: (r.prop_k, r.has_k)
        for r in textfns.q17_json_funcs(spark, sf).collect()
    }
    assert jf[1] == (7, True) and jf[6] == (-3, True)
    # float / string / out-of-int32-range / boolean / malformed /
    # non-scalar / null-literal / NULL-props
    for eid in (2, 3, 4, 5, 7, 8, 9, 10, 11, 12, 13, 14):
        assert jf[eid] == (-1, False), f"event {eid}: {jf[eid]}"
    oracle = {
        r[0]: (r[1], r[2])
        for r in con.execute(ORACLES["q17_json_funcs"]).fetchall()
    }
    assert oracle == jf

    # Lens 2: string-CAST — truncates toward zero, parses strings.
    mf = {
        r.event_id: r.k_from_map
        for r in textfns.q17_map_funcs(spark, sf).collect()
    }
    assert mf[2] == 7 and mf[5] == -7 and mf[4] == 7 and mf[7] == 9999999999
    for eid in (8, 9, 10, 11, 12, 13, 14):  # bools/malformed/etc -> 0
        assert mf[eid] == 0, f"event {eid}: {mf[eid]}"
    oracle = {
        r[0]: r[2]
        for r in con.execute(ORACLES["q17_map_funcs"]).fetchall()
    }
    assert oracle == mf

    # Lens 3: VARIANT try_variant_get(..., 'long') — truncates JSON
    # NUMBERS toward zero (out-of-int64 -> NULL), casts BOOLEANS
    # (true -> 1, false -> 0), TRY-casts strings ("7" -> 7 but
    # "-7.5" -> NULL, unlike lens 2's truncating plain CAST), nulls
    # non-scalars, and is TOTAL over malformed wires (try_parse_json).
    # Rows with k: 1..4, 6..9 -> 7+7+7+7-3+9999999999+1+0.
    vs = textfns.q17_variant_shred(spark, sf).collect()
    assert len(vs) == 1 and vs[0].event_type == "view"
    got = (
        vs[0].n_events,
        vs[0].n_with_k,
        vs[0].sum_k,
        vs[0].min_k,
        vs[0].max_k,
    )
    assert got == (14, 8, 10000000025, -3, 9999999999), got
    oracle_row = con.execute(ORACLES["q17_variant_shred"]).fetchall()
    assert len(oracle_row) == 1
    assert tuple(oracle_row[0]) == ("view",) + got


def test_weighted_sample_is_length_biased_not_uniform(spark):
    """The weighting must actually bite: under A-ES with weight
    n_chars, long documents are over-represented, so the sample's mean
    length exceeds the corpus mean (a uniform sampler's would match
    it). Deterministic on the fixed corpus; also sanity-pins the
    without-replacement and key-ordering contracts."""
    from conftest import SF_DIR

    from reddit_data_engineering_project_spark.operators import (
        text_analysis as ta,
    )
    from reddit_data_engineering_project_spark.tables import table
    from pyspark.sql import functions as FF

    rows = ta.x04_weighted_sample(spark, SF_DIR).collect()
    assert len(rows) == ta._WS_N
    assert len({r.doc_id for r in rows}) == ta._WS_N  # no replacement
    keys = [r.key_e6 for r in sorted(rows, key=lambda r: r.rank)]
    assert keys == sorted(keys, reverse=True)
    corpus_mean = (
        table(spark, SF_DIR, "documents")
        .agg(FF.avg("n_chars"))
        .first()[0]
    )
    sample_mean = sum(r.n_chars for r in rows) / len(rows)
    assert sample_mean > corpus_mean, (
        f"sample mean {sample_mean:.1f} not above corpus {corpus_mean:.1f}"
    )


def test_partitioned_prune_day_exists_in_fixture(spark):
    """The pruned day is a fixed literal; if a corpus regeneration ever
    moves the 2024-01 event window, the op would go silently empty-but-
    green — pin non-emptiness so that shows up here instead."""
    from conftest import SF_DIR

    from reddit_data_engineering_project_spark.operators import sinks as S

    rows = S.q18_partitioned_prune(spark, SF_DIR).collect()
    assert rows and sum(r.n_events for r in rows) > 0


def test_adamic_adar_matches_python_reference(spark):
    """Full Python re-derivation of Adamic-Adar on the sf0.001 graph:
    rebuild neighborhoods from the SAME edge list, score every
    non-adjacent pair with sum(round(1e6/ln(deg(v)))) over common
    neighbors, and demand the operator's top-50 (values AND order)."""
    import math
    from collections import defaultdict

    from conftest import SF_DIR

    from reddit_data_engineering_project_spark.operators import (
        product_analytics as pa,
    )

    edges = pa._copurchase_edges(spark, SF_DIR).collect()
    nbrs = defaultdict(set)
    for r in edges:
        nbrs[r.src].add(r.dst)
    scores = {}
    for v, ns in nbrs.items():
        t = round(1_000_000.0 / math.log(len(ns)))
        ns_sorted = sorted(ns)
        for i, u in enumerate(ns_sorted):
            for w in ns_sorted[i + 1:]:
                cn, aa = scores.get((u, w), (0, 0))
                scores[(u, w)] = (cn + 1, aa + t)
    expect = sorted(
        (
            (-aa, u, w, cn)
            for (u, w), (cn, aa) in scores.items()
            if w not in nbrs[u]
        ),
    )[: pa._AA_TOP_N]
    got = sorted(
        pa.q21_adamic_adar(spark, SF_DIR).collect(), key=lambda r: r.rank
    )
    assert [(r.part_a, r.part_b, r.common_neighbors, r.aa_score_e6)
            for r in got] == [(u, w, cn, -negaa)
                              for negaa, u, w, cn in expect]


def _hourly_series_python(spark):
    """Independent Python re-derivation of the dense hourly count
    series the q22 correlogram/decomposition operators consume."""
    from conftest import SF_DIR

    from reddit_data_engineering_project_spark.tables import table

    rows = table(spark, SF_DIR, "events").select("ts").collect()
    hs = [r.ts.replace(minute=0, second=0, microsecond=0) for r in rows]
    h0 = min(hs)
    idx = [int((h - h0).total_seconds()) // 3600 for h in hs]
    x = [0] * (max(idx) + 1)
    for t in idx:
        x[t] += 1
    return x


def _half_away(v):
    import math

    return math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)


def test_acf_hourly_matches_python_reference(spark):
    """Full Python re-derivation of the lag-1..24 correlogram: rebuild
    the dense hourly series from raw timestamps, expand the
    mean-centered estimator into the same integer moments, mirror the
    double division (float() = Spark's cast-to-double), and demand
    every (n_pairs, acf_e6) cell exactly."""
    from conftest import SF_DIR

    from reddit_data_engineering_project_spark.operators import (
        timeseries as tsops,
    )

    x = _hourly_series_python(spark)
    n = len(x)
    s = sum(x)
    q = sum(v * v for v in x)
    den = n * n * q - n * s * s
    expect = {}
    for k in range(1, 25):
        pairs = list(zip(x, x[k:]))
        m = len(pairs)
        c = sum(a * b for a, b in pairs)
        ah = sum(a for a, _ in pairs)
        bt = sum(b for _, b in pairs)
        num = n * n * c - n * s * (ah + bt) + m * s * s
        expect[k] = (m, _half_away(float(num) / float(den) * 1000000.0))
    got = {
        r.lag_h: (r.n_pairs, r.acf_e6)
        for r in tsops.q22_acf_hourly(spark, SF_DIR).collect()
    }
    assert got == expect


def test_seasonal_decompose_matches_python_reference(spark):
    """Full Python re-derivation of the 2x24-MA decomposition: weighted
    25-hour trend window, per-hour-of-day detrended means, the two e6
    divisions mirrored through float(), and the additive identity
    resid = 1e6*x - trend_e6 - seasonal_e6 on every interior row; the
    24 edge rows (t < 12, t > n-13) must carry NULL trend/resid."""
    from collections import defaultdict

    from conftest import SF_DIR

    from reddit_data_engineering_project_spark.operators import (
        timeseries as tsops,
    )

    x = _hourly_series_python(spark)
    n = len(x)
    trend48 = {
        t: x[t - 12] + 2 * sum(x[t - 11 : t + 12]) + x[t + 12]
        for t in range(12, n - 12)
    }
    num = defaultdict(int)
    cnt = defaultdict(int)
    for t, tr in trend48.items():
        num[t % 24] += 48 * x[t] - tr
        cnt[t % 24] += 1
    seas_e6 = {
        h: _half_away(float(1000000 * num[h]) / float(48 * cnt[h]))
        for h in num
    }
    rows = tsops.q22_seasonal_decompose(spark, SF_DIR).collect()
    assert len(rows) == n
    for r in rows:
        t = r.t
        assert r.hod == t % 24
        assert r.x == x[t]
        assert r.seasonal_e6 == seas_e6[t % 24]
        if 12 <= t <= n - 13:
            tr_e6 = _half_away(float(1000000 * trend48[t]) / 48.0)
            assert r.trend_e6 == tr_e6
            assert r.resid_e6 == 1000000 * x[t] - tr_e6 - seas_e6[t % 24]
        else:
            assert r.trend_e6 is None
            assert r.resid_e6 is None
