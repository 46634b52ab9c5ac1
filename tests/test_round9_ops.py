"""Round-9 operator tests: the s09 session-gap batch twin, the
adamic-adar hub-capped variant, and the x00 adversarial-audit entry.

Follows the round-8 module's pattern: crafted micro-fixtures that pin
the contracts the driver corpus never exhibits, cross-checked against
the registered DuckDB oracle where one exists.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from reddit_data_engineering_project_spark import registry
from reddit_data_engineering_project_spark.registry import ORACLES
from reddit_data_engineering_project_spark.streaming import stream_queries
from reddit_data_engineering_project_spark.streaming.stateful import (
    NAT_US,
    close_idle_sessions,
)
from reddit_data_engineering_project_spark.streaming.stream_queries import (
    _ReplayGroupState,
)

registry.load_all_operators()

# ------------------------------------------- s09 session gap replay twin


def _duck_events(sf: str):
    con = duckdb.connect()
    glob = (sf + "/events.parquet/*.parquet").replace("'", "''")
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{glob}')"
    )
    return con


def test_s09_gap_replay_matches_oracle_on_crafted_corpus(spark, tmp_path):
    """Two sampled users: one with two gap-closed sessions plus an open
    tail, one with a single (never-emitted) open session; a NULL-ts row
    is dropped on both engines, and a user OUTSIDE the deterministic
    md5 1-in-8 sample (user 2: md5 bucket != 0) is excluded on both
    engines. Sampled user ids 10/13 have md5('10')/md5('13') bucket 0."""
    rows = [
        # user 10: session A (2 events), 40-min gap, session B (1
        # event), 31-min gap, open tail (2 events) -> emit A and B only.
        (1, "2024-01-01 00:00:00", 10),
        (2, "2024-01-01 00:10:00", 10),
        (3, "2024-01-01 00:50:00", 10),
        (4, "2024-01-01 01:21:00", 10),
        (5, "2024-01-01 01:22:00", 10),
        # exactly-30-min gap is NOT a split (strict >)
        (6, "2024-01-01 01:52:00", 10),
        # user 13: one open session, nothing emitted
        (7, "2024-01-01 00:00:00", 13),
        # NULL event time: carries no event-time position, dropped
        (8, None, 10),
        # user 2: NOT in the 1-in-8 sample -> no sessions on either
        # engine, even though this would gap-close if folded
        (9, "2024-01-01 00:00:00", 2),
        (10, "2024-01-01 03:00:00", 2),
    ]
    df = spark.createDataFrame(
        [
            Row(
                event_id=r[0],
                ts=r[1],
                user_id=r[2],
                event_type="view",
                value=1.0,
                props="{}",
            )
            for r in rows
        ]
    ).withColumn("ts", F.to_timestamp("ts"))
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    sf = str(tmp_path)

    got = sorted(
        stream_queries.s09_session_gap_replay(spark, sf).collect(),
        key=lambda r: (r.user_id, r.session_start),
    )
    assert [(r.user_id, r.n_events, r.closed_by) for r in got] == [
        (10, 2, "gap"),
        (10, 1, "gap"),
    ]
    assert got[0].session_end.minute == 10
    assert got[1].session_start.minute == 50

    con = _duck_events(sf)
    oracle = sorted(con.execute(ORACLES["s09_session_gap_replay"]).fetchall())
    assert [(o[0], o[3], o[4]) for o in oracle] == [
        (10, 2, "gap"),
        (10, 1, "gap"),
    ]
    assert [o[1] for o in oracle] == [r.session_start for r in got]
    assert [o[2] for o in oracle] == [r.session_end for r in got]


def test_close_idle_sessions_multichunk_and_degenerate_input():
    """The round-8 advice fixes, pinned at the transition-function
    level: (a) events spanning multiple Arrow chunks fold in global
    (ts, event_id) order — a gap that exists only under per-chunk
    sorting must NOT split; (b) NaT event times are dropped; (c) a
    call with only empty chunks and no prior state leaves no state and
    no timeout. State is the bucket's parallel arrays (one user here):
    ``(user_ids, start_us, last_us, n_events, timeout_ms)``."""

    def chunk(eids, tss):
        return pd.DataFrame(
            {"event_id": eids,
             "ts_us": [
                 NAT_US if t is None else int(pd.Timestamp(t).value // 1000)
                 for t in tss
             ],
             "user_id": [7] * len(eids)}
        )

    # Chunk 1 holds 00:00 and 01:00; chunk 2 holds 00:29 and 00:58.
    # Interleaved, consecutive gaps are all ~29-31 min EXCEPT none
    # exceed 30 min strictly... make them: 00:00, 00:29, 00:58, 01:27
    # (gaps 29 min) = ONE session. Per-chunk sorting would see
    # 00:00 -> 01:00 (60 min, a bogus split).
    st = _ReplayGroupState()
    out = list(
        close_idle_sessions(
            (7,),
            iter(
                [
                    chunk([1, 4], ["2024-01-01 00:00:00", "2024-01-01 01:27:00"]),
                    chunk([2, 3], ["2024-01-01 00:29:00", "2024-01-01 00:58:00"]),
                ]
            ),
            st,
        )
    )
    assert out == []  # one still-open session, no gap close
    assert st.exists and st.get[3] == [4]  # all 4 events
    assert st.timeout_ts is not None

    # NaT rows dropped: only the real event reaches state
    st = _ReplayGroupState()
    list(
        close_idle_sessions(
            (7,),
            iter([chunk([1, 2], ["2024-01-01 00:00:00", None])]),
            st,
        )
    )
    assert st.get[3] == [1]

    # Degenerate: empty chunks, no prior state -> no state, no timeout
    st = _ReplayGroupState()
    out = list(close_idle_sessions((7,), iter([chunk([], [])]), st))
    assert out == [] and not st.exists and st.timeout_ts is None


# --------------------------------------------- x00 adversarial audit


def test_x00_planted_lens_semantics(spark):
    """The audit's planted values land exactly on the probed parity
    table (q17 lens docstrings): per wire bucket, the three JSON
    lenses disagree in the documented pattern; the guarded frame is
    empty (not a descending sequence) for n=0; zeroed vectors score
    NULL cosine; half-boundary rounding is HALF-away-from-zero."""
    rows = registry.QUERIES["x00_adversarial_audit"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    out = {(r.probe, r.id): r.out for r in rows}

    # bucket = id % 8; ids 8..15 cover buckets 0..7 (id 8 -> b0, ...)
    # (int_lens, cast_lens, var_lens) per bucket:
    expect = {
        0: (7, 7, 7),        # strict int: all lenses agree
        1: (None, 7, 7),     # 7.9: int lens rejects, others trunc
        2: (None, 7, 7),     # "7": int lens rejects, others accept
        3: (None, None, 1),  # true: only variant casts
        4: (None, -7, -7),   # -7.5: trunc toward zero
        5: (None, None, None),  # out of int64
        6: (None, None, None),  # malformed
        7: (None, None, None),  # empty wire
    }
    for b, (i, c, v) in expect.items():
        eid = 8 + b
        assert out[("json_int", eid)] == i, (b, "int")
        assert out[("json_cast", eid)] == c, (b, "cast")
        assert out[("json_var", eid)] == v, (b, "var")

    # frame: buckets 0-2 plant n=0 -> empty frame, zero fold (a
    # descending sequence(0,-1) would emit 2*1000 + (-1) = 1999)
    assert out[("frame", 8)] == 0
    assert out[("frame", 9)] == 0
    # bucket 3, id 11: n = 11 % 4 = 3 -> [0,1,2]: 3*1000 + 3
    assert out[("frame", 11)] == 3003

    # rounding: id 8 -> b0 x=-2.5 -> round -3, -25; id 11 -> b3 x=0.5
    assert out[("round_pair", 8)] == -3025
    assert out[("round_pair", 11)] == 1005

    # zero vectors (vec_id % 4 == 0) -> NULL cosine; vec_id 1 vs
    # itself -> exactly 1e6; all 32 vec rows present
    zv = {r.id: r.out for r in rows if r.probe == "zerovec_cos"}
    assert len(zv) == 32
    assert all(zv[i] is None for i in range(0, 32, 4))
    assert zv[1] == 1_000_000
    assert all(zv[i] is not None for i in range(32) if i % 4 != 0)

    # NULL-ts window rows exist and ranked: bucket-3 rows planted NULL
    # event times still hold a rank (NULLS FIRST), never dropped
    ranks = [r.out for r in rows if r.probe == "win_rank"]
    assert len(ranks) == 257 and all(r is not None for r in ranks)


def test_close_idle_sessions_state_continuation_branches():
    """The two cross-micro-batch state paths of the vectorized fold,
    pinned at the function level (the replay never exercises them —
    a replay folds each user in ONE call from empty state): (a) a
    later batch within the gap MERGES into the carried open session
    (start and count carry over); (b) a later batch beyond the gap
    CLOSES the carried session as 'gap' and opens a new one. State is
    the bucket's parallel arrays (one user here)."""

    def chunk(eids, tss):
        return pd.DataFrame(
            {"event_id": eids,
             "ts_us": [
                 NAT_US if t is None else int(pd.Timestamp(t).value // 1000)
                 for t in tss
             ],
             "user_id": [7] * len(eids)}
        )

    # (a) merge: batch 1 opens at 00:00 (2 events), batch 2 arrives
    # 29 min after the last event -> same session, count 3, start 00:00
    st = _ReplayGroupState()
    out = list(close_idle_sessions(
        (7,), iter([chunk([1, 2], ["2024-01-01 00:00:00",
                                   "2024-01-01 00:05:00"])]), st))
    assert out == [] and st.get[3] == [2]
    out = list(close_idle_sessions(
        (7,), iter([chunk([3], ["2024-01-01 00:34:00"])]), st))
    assert out == []
    _, (start_us,), (last_us,), (n,), _ = st.get
    assert n == 3
    assert pd.Timestamp(start_us * 1000) == pd.Timestamp("2024-01-01 00:00:00")
    assert pd.Timestamp(last_us * 1000) == pd.Timestamp("2024-01-01 00:34:00")

    # (b) gap close: next batch arrives 31 min later -> the carried
    # session emits as one 3-event 'gap' row; state holds the new one
    out = list(close_idle_sessions(
        (7,), iter([chunk([4], ["2024-01-01 01:05:00"])]), st))
    (frame,) = out
    assert list(frame["n_events"]) == [3]
    assert list(frame["closed_by"]) == ["gap"]
    assert frame["session_start"].iloc[0] == pd.Timestamp(
        "2024-01-01 00:00:00").value // 1000
    assert frame["session_end"].iloc[0] == pd.Timestamp(
        "2024-01-01 00:34:00").value // 1000
    assert st.get[3] == [1]  # the new open session
