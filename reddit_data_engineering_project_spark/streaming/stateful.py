"""Custom stateful streaming operator via ``applyInPandasWithState``.

The S5 state-store surface generalized: arbitrary per-key state the
built-in operators can't express. The demo operator maintains a per-user
running profile (event count, value sum, last-seen timestamp) across
micro-batches — the online-feature-store shape.

``tests/test_stateful_stream.py`` drives it live: two availableNow passes
over a growing file source prove state persists across restarts via the
checkpoint, and the final profile equals the batch groupBy.

Scale notes: state is partitioned by the grouping key across executors
(RocksDB-backed in production configs); each micro-batch touches only
keys present in that batch. The pandas state function receives an
iterator of per-key frames — O(batch) memory, never O(state).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: NULL-event-time sentinel for the epoch-µs boundary column: int64
#: min, the same value a NaT datetime64 view yields, so every "NaT
#: sorts last / NaT drops" discipline keeps its comparison shape.
#:
#: WHY epoch-µs longs cross the pandas boundary instead of timestamps
#: (r16 ts-edge hostile wave): Spark's Arrow->pandas conversion casts
#: timestamp[us] to timestamp[ns], which overflows for any event time
#: past 2262-04-11 — the declared TIME_DOMAINS ceiling is 2999-12-31,
#: so a TimestampType column makes every applyInPandas(WithState)
#: operator crash on contract-legal data (pyarrow ArrowInvalid; and
#: pd.Timestamp(us * 1000) even overflows int64). Longs have no unit
#: cast: the transition functions do exact integer µs arithmetic over
#: the full domain, and callers re-cast to TimestampType RELATIONALLY
#: (timestamp_micros) after the boundary.
NAT_US = -(1 << 63)


def ts_us_expr():
    """The boundary projection for event time: ``ts`` as epoch-µs
    LongType named ``ts_us``, NULL encoded as :data:`NAT_US` (so the
    column is non-nullable int64 in pandas — a nullable long would
    arrive as float64 and lose µs exactness above 2^53)."""
    from pyspark.sql import functions as F

    return F.coalesce(F.unix_micros(F.col("ts")), F.lit(NAT_US)).alias(
        "ts_us"
    )


#: Per-user profile state: (n_events, total_value, last_ts-as-epoch-µs).
STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("last_ts_us", LongType()),
    ]
)

#: Boundary output: ``last_ts_us`` stays an epoch-µs long through the
#: pandas seam; the runner casts it to TimestampType relationally.
PROFILE_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("last_ts_us", LongType()),
    ]
)


def update_user_profile(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Fold this micro-batch's events into the user's running profile."""
    (user_id,) = key
    if state.exists:
        n, total, last_us = state.get
    else:
        n, total, last_us = 0, 0.0, 0

    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].fillna(0.0).sum())
        # epoch-µs longs (NAT_US for NULL ts) — the sentinel is int64
        # min, so it never wins the max unless every row is NULL.
        last_us = max(last_us, int(pdf["ts_us"].max()))

    state.update((n, total, last_us))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "total_value": [total],
            "last_ts_us": [last_us],
        }
    )


def run_profile_stream(
    spark, source_dir: str, sink_dir: str, checkpoint_dir: str
) -> None:
    """File stream → per-user stateful profile → parquet (update mode).

    One ``availableNow`` pass; re-running with the same checkpoint
    resumes the state store, so profiles accumulate across runs exactly
    like a continuously-running query.
    """
    from pyspark.sql import functions as F

    from .runner import _drain, _file_stream, _overwrite_sink

    # only what the fold reads crosses the Arrow boundary, and event
    # time crosses as epoch-µs longs (see ts_us_expr)
    stream = _file_stream(spark, source_dir, "user_id", "value", ts_us_expr())
    profiles = stream.groupBy("user_id").applyInPandasWithState(
        update_user_profile,
        outputStructType=PROFILE_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    ).select(
        "user_id",
        "n_events",
        "total_value",
        F.timestamp_micros("last_ts_us").alias("last_ts"),
    )
    _drain(profiles, _overwrite_sink(sink_dir), checkpoint_dir, "update")


# ---------------------------------------------------------------------------
# Streaming rolling z-score: the live twin of batch q22_rolling_zscore.
# ---------------------------------------------------------------------------

#: Per-user carry state: the trailing ≤7 values (event-time order), so an
#: arriving event's 8-deep frame = state tail + itself. O(frame) per key.
ZSCORE_STATE_SCHEMA = StructType(
    [
        StructField("tail", ArrayType(DoubleType())),
    ]
)

ZSCORE_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("value_e4", LongType()),
        StructField("z_e4", LongType()),
    ]
)

_FRAME = 8  # matches q22_rolling_zscore's ROWS BETWEEN 7 PRECEDING


def _half_up_e4(x: float) -> int:
    # Spark's round() is HALF_UP (away from zero); Python's round()
    # is banker's — match Spark so ties agree with the batch op.
    scaled = x * 10000.0
    return int(scaled + 0.5) if scaled >= 0 else -int(-scaled + 0.5)


def _half_up_e4_arr(x, out_dtype="int64"):
    """Vectorized :func:`_half_up_e4` over a float ndarray: HALF_UP
    (away from zero), matching Spark's round(). ``int(scaled + 0.5)``
    truncates toward zero, which equals floor for the non-negative
    branch — hence the floor/-floor pair."""
    import numpy as np

    scaled = x * 10000.0
    return np.where(
        scaled >= 0,
        np.floor(scaled + 0.5),
        -np.floor(-scaled + 0.5),
    ).astype(out_dtype)


def _zscore_fold(tail: list, event_ids, values) -> tuple:
    """Fold one user's (ts, event_id)-ordered events through the
    trailing-8 z-score frame.

    Returns ``(event_ids_i64, values_e4, values_mask, z_e4, z_mask,
    new_tail)`` — int64 ndarrays with their missing-masks (mask True =
    NULL), and the ≤7-value state tail as a plain float list. Raw
    numpy so the bucketed caller can concatenate users without
    per-user pandas objects. This is the anomaly gate's transition
    core — shared verbatim by the per-user operator
    (:func:`score_rolling_zscore`, which the s08 replay entry drives
    row-for-row against the SQL window oracle) and the bucketed
    operator (:func:`score_rolling_zscore_bucketed`). NULL-value rows
    OCCUPY a frame slot (aging out older values) but contribute nothing
    to the stats — exactly how count(value)/sum(value) over a ROWS
    frame treat NULLs; encoded as NaN in the array<double> state.

    Hybrid execution (r11 verdict item 4, then measured): above
    ``_VECTOR_MIN`` events per call, every event's 8-slot frame is a
    row of a stride-tricks sliding window over [tail ++ values] and
    the per-event stats are one masked matrix reduction — microbenched
    5.2× the sequential loop at 1000 events/call, which is the REPLAY
    shape (one call folds a user's whole history). Below it, the
    sequential loop stays: at the LIVE shape (~8 events per user per
    micro-batch) the vectorized path's array setup costs 3× more than
    the 8-iteration loop it replaces. Numerical identity between the
    two paths is a PRECONDITION the dispatch now checks, not assumes
    (r12 advice): the vectorized arm runs only when every finite input
    (tail and batch) is an integral double within
    ``_VECTOR_EXACT_MAX`` — the e4 integers-in-doubles the s08 replay
    plants, where every frame sum / sum-of-squares
    (≤ 8 · _VECTOR_EXACT_MAX² < 2^53) is EXACT under ANY summation
    order. Raw (unquantized) live doubles therefore always take the
    sequential arm, whose accumulation order is the pinned reference —
    a live micro-batch can never straddle a rounding boundary across
    arms. Per-window frame sums rather than prefix-sum cancellation
    for the same exactness reason (a cumulative sum across a long
    history leaves the exact range, a ≤8-element window sum never
    does). Identity is pinned by ``test_zscore_fold_paths_identical``;
    the exactness-domain dispatch by
    ``test_zscore_fold_unquantized_takes_sequential_arm``.
    """
    import numpy as np

    if isinstance(values, np.ndarray):
        vals = values if values.dtype == np.float64 else values.astype(
            "float64"
        )
    elif hasattr(values, "to_numpy"):
        vals = values.to_numpy(dtype="float64", na_value=np.nan)
    else:
        vals = np.asarray(
            [np.nan if v is None else float(v) for v in values],
            dtype="float64",
        )
    if isinstance(event_ids, np.ndarray):
        ev = (
            event_ids
            if event_ids.dtype == np.int64
            else event_ids.astype("int64")
        )
    elif hasattr(event_ids, "to_numpy"):
        # Exact conversion: a float64 round-trip would silently corrupt
        # BIGINT ids above 2^53, and a null id must fail loudly — it is
        # the declared primary key (r12 advice).
        if hasattr(event_ids, "isna") and event_ids.isna().any():
            raise ValueError(
                "null event_id in z-score fold input — event_id is the "
                "events primary key (tables.PRIMARY_KEYS); the ingest "
                "contract gate rejects such batches before state updates"
            )
        ev = event_ids.to_numpy(dtype="int64")
    else:
        ev = np.asarray(event_ids).astype("int64")

    if not len(vals):
        empty_i = np.empty(0, "int64")
        empty_b = np.empty(0, "bool")
        return ev[:0], empty_i, empty_b, empty_i, empty_b, list(tail)

    tail_arr = np.asarray(
        [np.nan if t is None or t != t else float(t) for t in tail],
        dtype="float64",
    )
    if len(vals) < _VECTOR_MIN or not _vector_exact_ok(tail_arr, vals):
        return _zscore_fold_seq(tail, ev, vals)
    x = np.concatenate([tail_arr, vals])
    # Left NaN padding makes every frame exactly _FRAME wide; a NaN pad
    # slot is indistinguishable from an absent one (stats skip NaN).
    xp = np.concatenate([np.full(_FRAME - 1, np.nan), x])
    frames = np.lib.stride_tricks.sliding_window_view(xp, _FRAME)[
        len(tail_arr):
    ]
    valid = ~np.isnan(frames)
    n = valid.sum(axis=1)
    s = np.where(valid, frames, 0.0).sum(axis=1)
    ss = np.where(valid, frames * frames, 0.0).sum(axis=1)

    v_ok = ~np.isnan(vals)
    n_safe = np.maximum(n, 2)
    var = (ss - s * s / n_safe) / (n_safe - 1)
    z_ok = v_ok & (n > 1) & (var > 1e-12)
    with np.errstate(invalid="ignore", divide="ignore"):
        z = (vals - s / np.maximum(n, 1)) / np.sqrt(
            np.where(z_ok, var, 1.0)
        )

    out_val = _half_up_e4_arr(np.where(v_ok, vals, 0.0))
    out_z = _half_up_e4_arr(np.where(z_ok, z, 0.0))
    new_tail = x[max(0, len(x) - (_FRAME - 1)):].tolist()
    return ev, out_val, ~v_ok, out_z, ~z_ok, new_tail


#: Per-call event count above which the vectorized fold wins (measured
#: crossover ≈ 70; the live path sits at ~8, replays at whole-history).
_VECTOR_MIN = 64

#: Exactness bound for the vectorized arm: with |v| ≤ 3e7, an 8-slot
#: frame's sum of squares is ≤ 8·(3e7)² = 7.2e15 < 2^53 ≈ 9.007e15, so
#: integral doubles in this range sum EXACTLY under any association —
#: the property that makes the two fold arms row-identical. The s08
#: replay's e4-quantized corpus peaks near 5.6e6 (36× headroom).
_VECTOR_EXACT_MAX = 3.0e7


def _vector_exact_ok(tail_arr, vals) -> bool:
    """True iff every finite input is an integral double within
    ``_VECTOR_EXACT_MAX`` — the domain where the vectorized arm's
    pairwise summation is bit-identical to the sequential arm's
    left-to-right accumulation. Anything else (raw live doubles) must
    take the sequential arm: dispatch on size alone could otherwise
    flip a half-up e4 rounding at an association-order boundary
    (r12 advice)."""
    import numpy as np

    x = np.concatenate([tail_arr, vals])
    finite = x[~np.isnan(x)]
    if not finite.size:
        return True
    return bool(
        (np.abs(finite) <= _VECTOR_EXACT_MAX).all()
        and (finite == np.floor(finite)).all()
    )


def _eid_sort_keys(col) -> tuple:
    """Exact lexsort tie-break keys for an ``event_id`` column, to be
    spliced BEFORE the ts key in ``np.lexsort((*keys, ts_key))``.

    The pre-r17 nullable/object fallback cast to float64, which loses
    integer exactness above 2^53 — ts-tied rows with nearby huge ids
    (the hostile waves plant 2^57-scale keys, where float64 spacing is
    32) could silently sort differently from the exact int64 path,
    changing fold row identity. Instead: an exact int64 view plus a
    separate null mask as the more-significant key, preserving the
    float path's NaN-sorts-last semantics without the lossy cast
    (r16 advice). Only a plain integer ndarray takes the fast path —
    a nullable Int64 series renders to float64 (this pandas) or object
    (older), and BOTH must go through the exact fillna view (the
    fillna(0) stays extension-typed, so the int64 render is exact).
    """
    import numpy as np

    arr = col.to_numpy()
    if arr.dtype.kind in "iu":
        return (arr,)
    mask = col.isna().to_numpy()
    if arr.dtype == object:
        # per-element Python-int conversion: exact, and avoids the
        # object-fillna downcast deprecation
        ints = np.where(mask, 0, arr).astype("int64")
    else:
        ints = col.fillna(0).to_numpy(dtype="int64")
    return (ints, mask)


def _zscore_fold_seq(tail: list, ev, vals) -> tuple:
    """Sequential fold body — the small-call arm of :func:`_zscore_fold`
    (inputs already normalized to int64/float64 ndarrays; same return
    contract)."""
    import numpy as np

    out_val, out_vm, out_z, out_zm = [], [], [], []
    tail = list(tail)
    for v in vals:
        v = float(v) if v == v else None  # NaN -> missing
        frame = tail + [v if v is not None else float("nan")]
        z_e4 = 0
        z_missing = True
        if v is not None:
            # stats skip NULL slots (NaN here; None if the state round-
            # trip rendered a missing double as None)
            xs = [x for x in frame if x is not None and x == x]
            n = len(xs)
            if n > 1:
                s = 0.0
                ss = 0.0
                for x in xs:
                    s += x
                    ss += x * x
                var = (ss - s * s / n) / (n - 1)
                if var > 1e-12:
                    z_e4 = _half_up_e4((v - s / n) / var**0.5)
                    z_missing = False
        out_val.append(_half_up_e4(v) if v is not None else 0)
        out_vm.append(v is None)
        out_z.append(z_e4)
        out_zm.append(z_missing)
        tail = frame[-(_FRAME - 1):]
    return (
        ev,
        np.asarray(out_val, "int64"),
        np.asarray(out_vm, "bool"),
        np.asarray(out_z, "int64"),
        np.asarray(out_zm, "bool"),
        tail,
    )


def score_rolling_zscore(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Score each arriving event against its trailing 8-value frame.

    Assumes per-key event-time-ordered arrival across micro-batches (the
    file-stream contract in the runner: files land in time order);
    within a batch, rows are re-sorted by (ts, event_id) to make the
    frame deterministic. The variance formula is the batch operator's
    sum/sum-of-squares identity with the identical 1e-12 floor, so the
    streaming score converges to the batch score on ordered input.
    """
    (user_id,) = key
    tail: list[float] = list(state.get[0]) if state.exists else []

    frames = [pdf for pdf in batches if len(pdf)]
    if not frames:
        state.update((tail,))
        return
    import numpy as np

    pdf = frames[0] if len(frames) == 1 else pd.concat(frames)
    # (ts, event_id) order with NULL ts LAST — the sentinel NAT_US is
    # int64 min, so remap it to int64 max for the sort key (same
    # discipline as the bucketed fold; NULL-ts rows keep their frame
    # slot, their fold position is load-bearing for row identity).
    ts_us = pdf["ts_us"].to_numpy("int64")
    ts_key = np.where(
        ts_us == NAT_US, np.iinfo("int64").max, ts_us
    )
    pdf = pdf.iloc[np.lexsort((*_eid_sort_keys(pdf["event_id"]), ts_key))]

    ev, val, val_mask, z, z_mask, tail = _zscore_fold(
        tail, pdf["event_id"], pdf["value"]
    )

    state.update((tail,))
    yield pd.DataFrame(
        {
            "user_id": pd.array([user_id] * len(ev), dtype="Int64"),
            "event_id": pd.array(ev, dtype="Int64"),
            "value_e4": pd.arrays.IntegerArray(val, mask=val_mask),
            "z_e4": pd.arrays.IntegerArray(z, mask=z_mask),
        }
    )


def run_zscore_stream(
    spark,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    state_shards: int = 16,
    contract_table: str | None = "events",
) -> None:
    """File stream → per-user stateful rolling z-score → parquet.

    Each event is scored exactly once, in the micro-batch it arrives;
    the checkpoint carries the per-user tail across restarts, so a
    resumed stream scores new events against history it never re-reads
    — the anomaly-gate shape for a 100 TB/day event firehose (state is
    8 doubles per user, RocksDB-sharded by user across executors).
    Same throughput shape as the sessionizer (SCALE.md): only the four
    columns the fold reads enter the shuffle/Arrow channel, and
    ``state_shards`` bounds the per-shard fixed cost.
    """
    from .runner import _drain, _file_stream, _overwrite_sink

    stream = _file_stream(
        spark,
        source_dir,
        "user_id",
        "event_id",
        "value",
        ts_us_expr(),
        contract_table=contract_table,
    )
    scored = stream.groupBy("user_id").applyInPandasWithState(
        score_rolling_zscore,
        outputStructType=ZSCORE_OUT_SCHEMA,
        stateStructType=ZSCORE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    _drain(
        scored,
        _overwrite_sink(sink_dir),
        checkpoint_dir,
        "update",
        state_shards=state_shards,
        contract_table=contract_table,
    )


#: Per-BUCKET z-score state: each bucketed user's trailing ≤7-value
#: frame, as parallel arrays (tails carry NaN for null-value slots,
#: same encoding as the per-user state).
BUCKET_ZSCORE_STATE_SCHEMA = StructType(
    [
        StructField("user_ids", ArrayType(LongType(), containsNull=True)),
        StructField("tails", ArrayType(ArrayType(DoubleType()))),
    ]
)


def score_rolling_zscore_bucketed(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-BUCKET rolling z-score: one state key carries the trailing
    frames of every user in the bucket.

    Key-coarsening twin of :func:`close_idle_sessions_bucketed` — the
    anomaly gate is the stateful stream with the MOST keys at 100 TB
    (every active entity), so the ~7 ms/key `applyInPandasWithState`
    protocol cost is the dominant term long before the fold is. Each
    user's events fold through the SAME :func:`_zscore_fold` core the
    s08 replay hash-verifies; output is row-identical to per-user
    keying (pinned by ``test_bucketed_zscore_stream_matches_per_user``).
    """
    import numpy as np

    open_: dict = {}
    if state.exists:
        uids, tails = state.get
        for u, t in zip(uids, tails):
            open_[None if u is None else int(u)] = list(t)

    frames = [pdf for pdf in batches if len(pdf)]
    chunks: list[tuple] = []  # (uid_or_None, ev, val, val_mask, z, z_mask)
    if frames:
        pdf = frames[0] if len(frames) == 1 else pd.concat(frames)
        ts_us = pdf["ts_us"].to_numpy("int64")
        # NULL ts (NAT_US = int64 min) must sort LAST to match the
        # per-user path — the z-score fold KEEPS null-ts rows (they
        # occupy a frame slot), so their position in the fold order is
        # load-bearing for row-identity (r11 advice).
        ts_key = np.where(
            ts_us == NAT_US, np.iinfo("int64").max, ts_us
        )
        eid_keys = _eid_sort_keys(pdf["event_id"])
        order = np.lexsort((*eid_keys, ts_key))
        pdf = pdf.iloc[order]
        # Column arrays extracted ONCE per bucket: the per-user slices
        # below are numpy fancy-indexing, not pdf.iloc frames — the
        # per-user pandas construction was most of the fold wall.
        # eid_keys[0] is the exact int64 id view (never a lossy float
        # round-trip); a null id must fail loudly before it reaches the
        # fold as the pandas path does — it is the declared primary key.
        if len(eid_keys) > 1 and eid_keys[1].any():
            raise ValueError(
                "null event_id in z-score fold input — event_id is the "
                "events primary key (tables.PRIMARY_KEYS); the ingest "
                "contract gate rejects such batches before state updates"
            )
        eid_sorted = eid_keys[0][order]
        val_sorted = pdf["value"].to_numpy(dtype="float64", na_value=np.nan)
        for u, idx in pdf.groupby(
            "user_id", dropna=False, sort=False
        ).indices.items():
            u = None if pd.isna(u) else int(u)
            ev, val, val_mask, z, z_mask, tail = _zscore_fold(
                open_.get(u, []), eid_sorted[idx], val_sorted[idx]
            )
            open_[u] = tail
            chunks.append((u, ev, val, val_mask, z, z_mask))

    state.update(
        (list(open_.keys()), [list(t) for t in open_.values()])
    )
    if chunks:
        uid = np.concatenate(
            [
                np.full(len(c[1]), -1 if c[0] is None else c[0], "int64")
                for c in chunks
            ]
        )
        uid_mask = np.concatenate(
            [np.full(len(c[1]), c[0] is None) for c in chunks]
        )
        yield pd.DataFrame(
            {
                "user_id": pd.arrays.IntegerArray(uid, mask=uid_mask),
                "event_id": pd.array(
                    np.concatenate([c[1] for c in chunks]), dtype="Int64"
                ),
                "value_e4": pd.arrays.IntegerArray(
                    np.concatenate([c[2] for c in chunks]),
                    mask=np.concatenate([c[3] for c in chunks]),
                ),
                "z_e4": pd.arrays.IntegerArray(
                    np.concatenate([c[4] for c in chunks]),
                    mask=np.concatenate([c[5] for c in chunks]),
                ),
            }
        )


def run_zscore_stream_bucketed(
    spark,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 16,
    state_shards: int = 4,
    contract_table: str | None = "events",
) -> None:
    """File stream → bucketed rolling z-score → parquet.

    Row-identical output to :func:`run_zscore_stream`; grouping by
    ``pmod(xxhash64(user_id), n_buckets)`` amortizes the per-key
    protocol cost over the bucket (see
    :func:`score_rolling_zscore_bucketed`).

    Sizing (measured at sf0.1/8 triggers, SCALE.md): per-TRIGGER fixed
    cost (~0.65 s: state commit, python-runner task setup, offset-log
    fsyncs) dominates once keys are coarsened, so fewer shards/buckets
    win locally — shards ≈ min(cores claimed by the stream, keys/25),
    buckets ≈ 2-4× shards. On a cluster scale both with executor
    cores; throughput then scales with rows PER TRIGGER (the floor is
    per trigger, not per row — 90k rows/s at one 100k-row trigger vs
    17.7k at eight 12.5k-row triggers).
    """
    from pyspark.sql import functions as F

    from .runner import _drain, _file_stream, _overwrite_sink

    stream = _file_stream(
        spark,
        source_dir,
        "user_id",
        "event_id",
        "value",
        ts_us_expr(),
        F.pmod(F.xxhash64(F.col("user_id")), F.lit(n_buckets)).alias("bucket"),
        contract_table=contract_table,
    )
    scored = stream.groupBy("bucket").applyInPandasWithState(
        score_rolling_zscore_bucketed,
        outputStructType=ZSCORE_OUT_SCHEMA,
        stateStructType=BUCKET_ZSCORE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    _drain(
        scored,
        _overwrite_sink(sink_dir),
        checkpoint_dir,
        "update",
        state_shards=state_shards,
        contract_table=contract_table,
    )


#: Session-gap threshold shared with the batch sessionizer
#: (q21_sessionize_gap) and the S3 session window: 30 minutes.
_SESSION_GAP_MS = 30 * 60 * 1000

SESSION_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n_events", LongType()),
    ]
)

#: Boundary output: session bounds stay epoch-µs longs through the
#: pandas seam (see ts_us_expr's rationale); callers cast to
#: TimestampType relationally via :func:`cast_session_bounds`.
SESSION_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", LongType()),
        StructField("session_end", LongType()),
        StructField("n_events", LongType()),
        StructField("closed_by", StringType()),
    ]
)


#: The watermark column for the event-time-timeout streams: the real
#: event time CLAMPED to datetime64[ns]'s ceiling
#: (2262-04-11T23:47:16.854775), so the TimestampType column Spark's
#: EventTimeTimeout machinery requires in the stateful operator's
#: child output survives the hardcoded Arrow->pandas ns cast for ANY
#: in-domain corpus. Inside the ns range the clamp is the identity:
#: watermark advance and Spark's engine-side late-row drop (which
#: keys on this tagged column — pinned by
#: test_session_streams_filter_late_rows_identically) behave exactly
#: as on the raw column. Past the ceiling the watermark SATURATES:
#: no rows are dropped or corrupted and gap-closure (driven by the
#: exact ts_us longs) stays total over the whole TIME_DOMAIN, but
#: timeout-closure stops firing once the watermark pins at the
#: ceiling — the one documented residual of Spark's ns boundary, vs
#: the pre-r16 state where any event past 2262 CRASHED the stream.
_WM_CEILING_US = 9_223_372_036_854_775


def _clamped_wm_ts():
    from pyspark.sql import functions as F

    # least() SKIPS nulls, so a bare clamp would turn a NULL event time
    # into the 2262 ceiling and advance the watermark to it — timeout-
    # closing every open session and late-dropping all subsequent
    # in-range rows. NULL ts is contract-legal on the live streams (the
    # fold drops NAT_US rows); preserve it so, as on the raw-ts
    # watermark, NULL never advances the watermark.
    return F.when(
        F.col("ts").isNotNull(),
        F.least(F.col("ts"), F.timestamp_micros(F.lit(_WM_CEILING_US))),
    ).alias("ts")


def _observe_wm_saturation(stream):
    """Count rows whose event time exceeds the ns ceiling, riding the
    stream's existing scan as an ``observe()`` metric (zero extra pass,
    same mechanism as the ingest-contract gates).

    Past ``_WM_CEILING_US`` the clamped watermark SATURATES: nothing
    drops or corrupts, but timeout-closure silently stops firing — a
    documented degradation an operator near the ceiling could
    otherwise never see (r16 verdict item 4). The counter keys on the
    RAW ts (call before the clamp projection); read it back with
    :func:`wm_saturation_count`."""
    from pyspark.sql import functions as F

    return stream.observe(
        "wm_saturation",
        F.sum(
            F.when(
                F.col("ts")
                > F.timestamp_micros(F.lit(_WM_CEILING_US)),
                1,
            ).otherwise(0)
        ).alias("n_wm_clamped"),
    )


def wm_saturation_count(query) -> int:
    """Total past-ceiling rows the finished run observed (sum over the
    progress history — same read path as the ingest-contract gate;
    batches evicted past ``numRecentProgressUpdates`` would undercount,
    which ``raise_on_contract_violations`` already refuses to vouch
    for on the same runs)."""
    total = 0
    for p in query.recentProgress:
        row = (p.observedMetrics or {}).get("wm_saturation")
        if row is not None:
            total += row["n_wm_clamped"] or 0
    return total


def _warn_wm_saturation(query) -> int:
    """Post-run check: warn loudly when any row exceeded the ns
    ceiling — timeout-closure stopped firing once the clamped
    watermark pinned there (gap-closure and row integrity are
    unaffected; see ``_WM_CEILING_US``). Returns the count so runners
    can surface it."""
    import warnings

    n = wm_saturation_count(query)
    if n:
        warnings.warn(
            f"{n} event(s) beyond the datetime64[ns] ceiling "
            f"(2262-04-11): the clamped watermark saturated, so "
            f"timeout-closure stopped firing for the remainder of the "
            f"run; gap-closure and emitted rows are unaffected "
            f"(streaming/stateful.py:_WM_CEILING_US)",
            RuntimeWarning,
            stacklevel=3,
        )
    return n


def cast_session_bounds(df):
    """Relational µs->timestamp cast of the sessionizer's boundary
    output — the half of the timestamp round-trip that never touches
    pandas, total over the whole declared TIME_DOMAIN."""
    from pyspark.sql import functions as F

    return df.select(
        "user_id",
        F.timestamp_micros("session_start").alias("session_start"),
        F.timestamp_micros("session_end").alias("session_end"),
        "n_events",
        "closed_by",
    )


def _gap_fold(
    cur: tuple | None, ts_us, gap_us: int
) -> tuple[list[tuple], tuple | None]:
    """Fold one user's time-sorted event times (µs int64 array) into the
    open session ``cur`` = (start_us, last_us, n_events) or None.

    Returns ``(closed_segments, new_open)``. This is the sessionizer's
    transition core — shared verbatim by the per-user operator
    (:func:`close_idle_sessions`, which the s09 replay entries drive
    row-for-row against the SQL oracle) and the bucketed operator
    (:func:`close_idle_sessions_bucketed`), so the replay-verified fold
    IS the fold the high-throughput path runs.
    """
    import numpy as np

    closed: list[tuple] = []
    if len(ts_us):
        prev = np.empty_like(ts_us)
        # sentinel forces a boundary at index 0 when no state exists
        prev[0] = cur[1] if cur is not None else ts_us[0] - gap_us - 1
        prev[1:] = ts_us[:-1]
        starts = np.flatnonzero((ts_us - prev) > gap_us).tolist()
        merged_first = False
        if not starts or starts[0] != 0:
            # first events continue the open stateful session
            starts = [0] + starts
            merged_first = cur is not None
        ends = starts[1:] + [len(ts_us)]
        segs = [
            (int(ts_us[s]), int(ts_us[e - 1]), e - s)
            for s, e in zip(starts, ends)
        ]
        if merged_first:
            segs[0] = (cur[0], segs[0][1], cur[2] + segs[0][2])
        elif cur is not None:
            segs.insert(0, cur)  # the open session gap-closes now
        closed.extend(segs[:-1])
        cur = segs[-1]
    return closed, cur


def close_idle_sessions(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user sessionization with EVENT-TIME timeout close.

    The mechanism the profile/z-score operators don't exercise: an
    open session lives in state with ``setTimeoutTimestamp(last_event
    + gap)``; when the WATERMARK passes that instant the function is
    re-invoked for the key with ``state.hasTimedOut`` and NO data, and
    the session closes with ``closed_by='timeout'`` — the only way a
    streaming sessionizer can ever emit the LAST session of an idle
    user (a gap-split needs a next event; a timeout needs only time to
    pass). In-batch and cross-batch gap splits close eagerly with
    ``closed_by='gap'``. Event-time (not processing-time) timeouts
    keep replays deterministic: the close fires at the same point in
    the DATA under any wall-clock schedule, which is what makes the
    availableNow test reproducible.
    """
    (user_id,) = key

    def emit(sessions: list[tuple], why: str) -> pd.DataFrame:
        # ONE frame per invocation, not one per closed session: a
        # replay folds a user's WHOLE history through one call, so
        # per-session 1-row DataFrames turn O(sessions) allocator work
        # into the bottleneck (measured 41 s -> ~5 s at sf0.1). Columns
        # are built as numpy arrays — a pd.Timestamp-per-session list
        # comprehension was ~40% of the LIVE path's per-key cost (the
        # live stream calls emit ~once per user per micro-batch).
        import numpy as np

        starts = np.fromiter(
            (s[0] for s in sessions), dtype="int64", count=len(sessions)
        )
        ends = np.fromiter(
            (s[1] for s in sessions), dtype="int64", count=len(sessions)
        )
        counts = np.fromiter(
            (s[2] for s in sessions), dtype="int64", count=len(sessions)
        )
        return pd.DataFrame(
            {
                "user_id": pd.array(
                    [user_id] * len(sessions), dtype="Int64"
                ),
                "session_start": starts,
                "session_end": ends,
                "n_events": counts,
                "closed_by": [why] * len(sessions),
            }
        )

    if state.hasTimedOut:
        start_us, last_us, n = state.get
        state.remove()
        yield emit([(start_us, last_us, n)], "timeout")
        return

    cur = state.get if state.exists else None
    closed: list[tuple] = []
    # A key's micro-batch data can span multiple Arrow chunks (~10k rows
    # each); sorting chunks independently would fold events out of order
    # (mis-fired gap splits, last_us moving backward). Concat ALL chunks
    # first, drop NaT event times (they carry no event-time position),
    # then sort ONCE by (ts, event_id) — same discipline as
    # score_rolling_zscore above. The gap fold itself is vectorized
    # (boundary mask over the µs diffs, segment slicing): a per-event
    # Python loop was the replay's bottleneck (measured ~5 s -> ~1 s of
    # per-group work at 1M events) and is pure overhead for the live
    # stream too.
    frames = [pdf for pdf in batches if len(pdf)]
    gap_us = _SESSION_GAP_MS * 1000
    if frames:
        import numpy as np

        # Numpy end-to-end: the pandas concat → boolean-mask → multi-key
        # sort_values pipeline cost ~7 ms per key invocation, which at
        # ~1500 users × 9 micro-batches was MOST of the live stream's
        # wall (the replay amortizes it over whole histories; the live
        # path pays it per user per batch). Same order semantics:
        # lexsort is stable like sort_values, NaT drops, NaN event_ids
        # sort last.
        pdf = frames[0] if len(frames) == 1 else pd.concat(frames)
        ts_us_all = pdf["ts_us"].to_numpy("int64")
        eid_keys = _eid_sort_keys(pdf["event_id"])
        mask = ts_us_all != NAT_US  # NULL ts carries no position
        if not mask.all():
            ts_us_all = ts_us_all[mask]
            eid_keys = tuple(k[mask] for k in eid_keys)
        order = np.lexsort((*eid_keys, ts_us_all))
        ts_us = ts_us_all[order]
        newly_closed, cur = _gap_fold(cur, ts_us, gap_us)
        closed.extend(newly_closed)
    if cur is None:
        # Only empty/NaT-ts chunks and no prior state: nothing to track.
        return
    state.update(cur)
    # Clamp to just past the watermark when the open session's deadline
    # already fell behind it (possible only under LATE arrivals — an
    # event older than the watermark extends a session whose deadline
    # passed): Spark rejects event-time timeouts at/behind the
    # watermark, and wm+1 re-fires next batch, which is when the passed
    # deadline would be acted on anyway. On in-order corpora the clamp
    # never binds (deadline > watermark by construction), so replay
    # semantics are untouched (the replay stand-in's watermark is 0).
    state.setTimeoutTimestamp(
        max(
            cur[1] // 1000 + _SESSION_GAP_MS,
            state.getCurrentWatermarkMs() + 1,
        )
    )
    if closed:
        yield emit(closed, "gap")


def run_session_stream(
    spark,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    state_shards: int = 16,
    contract_table: str | None = "events",
) -> None:
    """File stream → watermarked event-time sessionizer → parquet.

    Throughput shape (r10 verdict item 3 — measured at sf0.1/8
    micro-batches, SCALE.md): the stateful stage's cost is per-KEY
    protocol overhead (state row round-trip + per-group pandas
    machinery), not data volume, so (a) only the three columns the
    transition function reads (``user_id, ts, event_id``) enter the
    shuffle and the Arrow channel — the full event row tripled the
    per-key transfer for nothing — and (b) ``state_shards`` sizes the
    state-store partition count at FIRST start (it is pinned in the
    checkpoint thereafter): per-shard fixed cost (store open/commit,
    python runner handshake) makes 32 shards for ~1.5k live keys
    strictly slower than 16. On a real cluster size it to ~2-4× the
    executor-core count claimed by the stream.

    The watermark (0 s delay — the corpus files arrive in time order)
    is what drives the timeout: after each micro-batch it advances to
    that batch's max event time, and every open session whose
    last-event + gap fell behind it closes on the NEXT batch. Append
    mode: only CLOSED sessions are emitted, exactly once each.

    Null event times: rows with NaT ``ts`` are dropped inside
    :func:`close_idle_sessions` (they carry no event-time position).
    This is a deliberate live-path semantics change from the pre-r09
    fold, which coerced NaT to int64-min and force-split sessions —
    the drop matches the s09 oracle's ``ts IS NOT NULL`` filter and is
    pinned by ``test_session_stream_ignores_nat_event_times`` in
    ``tests/test_stateful_stream.py``.
    """
    from .runner import _drain, _file_stream, _overwrite_sink

    stream = _file_stream(
        spark,
        source_dir,
        "user_id",
        "ts",
        "event_id",
        contract_table=contract_table,
    )
    # exact epoch-µs longs for the fold + the ns-safe clamped ts for
    # the watermark/late-drop machinery (see _WM_CEILING_US); ts_us is
    # computed from the RAW ts before the clamp, and the saturation
    # counter rides the same scan on the raw column
    stream = _observe_wm_saturation(stream)
    stream = stream.select(
        "user_id", "event_id", ts_us_expr(), _clamped_wm_ts()
    ).withWatermark("ts", "0 seconds")
    sessions = cast_session_bounds(
        stream.groupBy("user_id").applyInPandasWithState(
            close_idle_sessions,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )

    q = _drain(
        sessions,
        _overwrite_sink(sink_dir),
        checkpoint_dir,
        "append",
        state_shards=state_shards,
        contract_table=contract_table,
    )
    _warn_wm_saturation(q)


# ---------------------------------------------------------------------------
# Bucketed sessionizer: the high-throughput form of the same operator.
# ---------------------------------------------------------------------------

#: Per-BUCKET state: the open sessions of every user hashed into the
#: bucket, as parallel arrays (user_ids may contain None — the NULL-user
#: group is a first-class session key, same as the per-user operator).
#: ``timeout_ms`` is the user's CLAMPED close instant — what the
#: per-user operator passed to ``setTimeoutTimestamp`` — not the raw
#: last+gap deadline: under late arrivals the two differ (the per-user
#: clamp defers a behind-watermark deadline to wm+1), and replicating
#: Spark's ``timeout < watermark`` firing rule needs the clamped value.
BUCKET_SESSION_STATE_SCHEMA = StructType(
    [
        StructField("user_ids", ArrayType(LongType(), containsNull=True)),
        StructField("start_us", ArrayType(LongType())),
        StructField("last_us", ArrayType(LongType())),
        StructField("n_events", ArrayType(LongType())),
        StructField("timeout_ms", ArrayType(LongType())),
    ]
)


def close_idle_sessions_bucketed(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-BUCKET sessionization: one state key carries the open
    sessions of every user in the bucket.

    Why this exists: ``applyInPandasWithState`` costs ~7 ms of fixed
    protocol machinery per KEY invocation (state row round-trip,
    per-group pandas construction, per-emit Arrow coercion — measured
    at sf0.1, SCALE.md), dwarfing the ~0.3 ms the transition fold
    itself needs. Keying by ``pmod(xxhash64(user_id), B)`` instead of
    ``user_id`` amortizes that fixed cost over ~|users|/B users per
    invocation — the standard key-coarsening move for high-cardinality
    stateful streams. Output is row-identical to the per-user operator
    (pinned by ``test_bucketed_session_stream_matches_per_user``):

    - users WITH data in the batch fold through the SAME
      :func:`_gap_fold` core the s09 replays verify — gap splits and
      continuations are byte-identical;
    - users WITHOUT data close by timeout iff their stored CLAMPED
      timeout instant fell strictly behind the current watermark —
      exactly Spark's own ``timeoutTimestamp < watermark`` firing rule
      the per-user operator relies on. Storing the clamp (not the raw
      last+gap deadline) matters under LATE arrivals: the per-user
      operator defers a behind-watermark deadline to wm+1 and only
      closes once the watermark moves past it, so a further within-gap
      late event still merges — recomputing from the deadline would
      timeout-close the just-extended session in the SAME batch and
      break row-identity (r11 advice). The bucket's timeout timestamp
      is the MIN per-user timeout, so the bucket is re-invoked in the
      same micro-batch in which the earliest per-user timeout would
      have fired.
    """
    import numpy as np

    gap_us = _SESSION_GAP_MS * 1000
    open_: dict = {}  # user -> (start_us, last_us, n_events, timeout_ms)
    if state.exists:
        uids, starts, lasts, ns, touts = state.get
        for u, s, l, n, t in zip(uids, starts, lasts, ns, touts):
            open_[None if u is None else int(u)] = (
                int(s), int(l), int(n), int(t),
            )

    wm_ms = state.getCurrentWatermarkMs()
    out_user: list = []
    out_rows: list[tuple] = []  # (start_us, last_us, n)
    out_why: list[str] = []

    if not state.hasTimedOut:
        frames = [pdf for pdf in batches if len(pdf)]
        if frames:
            pdf = frames[0] if len(frames) == 1 else pd.concat(frames)
            ts_arr = pdf["ts_us"].to_numpy("int64")
            mask = ts_arr != NAT_US
            if not mask.all():
                pdf = pdf[mask]
                ts_arr = ts_arr[mask]
            order = np.lexsort(
                (*_eid_sort_keys(pdf["event_id"]), ts_arr)
            )
            pdf = pdf.iloc[order]
            ts_us_all = ts_arr[order]
            # groupby(sort=False) preserves the (ts, event_id) order
            # within each user — the fold sees the same sequence the
            # per-user operator sorts for itself.
            for u, idx in pdf.groupby(
                "user_id", dropna=False, sort=False
            ).indices.items():
                u = None if pd.isna(u) else int(u)
                prior = open_.pop(u, None)
                closed, cur = _gap_fold(
                    prior[:3] if prior is not None else None,
                    ts_us_all[idx],
                    gap_us,
                )
                for seg in closed:
                    out_user.append(u)
                    out_rows.append(seg)
                    out_why.append("gap")
                if cur is not None:
                    # The per-user operator's setTimeoutTimestamp,
                    # clamp included: a touched user's timeout is
                    # always > wm, so the expiry scan below can never
                    # close a session extended this batch.
                    open_[u] = cur + (
                        max(
                            cur[1] // 1000 + _SESSION_GAP_MS,
                            wm_ms + 1,
                        ),
                    )

    # Users with no data this batch whose CLAMPED timeout the watermark
    # passed: the per-user operator's timeout branch, applied
    # selectively (Spark fires a key's timeout iff it got no data and
    # timeout < watermark — touched users' refreshed timeouts are > wm
    # by construction, so the untouched set is exactly {t < wm}).
    expired = [u for u, v in open_.items() if v[3] < wm_ms]
    for u in expired:
        s, l, n, _t = open_.pop(u)
        out_user.append(u)
        out_rows.append((s, l, n))
        out_why.append("timeout")

    if open_:
        state.update(
            (
                list(open_.keys()),
                [v[0] for v in open_.values()],
                [v[1] for v in open_.values()],
                [v[2] for v in open_.values()],
                [v[3] for v in open_.values()],
            )
        )
        # Spark rejects event-time timeouts at/behind the watermark;
        # wm+1 re-fires next batch, which is when a passed per-user
        # timeout would be acted on anyway.
        min_timeout = min(v[3] for v in open_.values())
        state.setTimeoutTimestamp(max(min_timeout, wm_ms + 1))
    else:
        state.remove()

    if out_rows:
        starts = np.fromiter(
            (r[0] for r in out_rows), dtype="int64", count=len(out_rows)
        )
        ends = np.fromiter(
            (r[1] for r in out_rows), dtype="int64", count=len(out_rows)
        )
        counts = np.fromiter(
            (r[2] for r in out_rows), dtype="int64", count=len(out_rows)
        )
        yield pd.DataFrame(
            {
                "user_id": pd.array(out_user, dtype="Int64"),
                "session_start": starts,
                "session_end": ends,
                "n_events": counts,
                "closed_by": out_why,
            }
        )


def run_session_stream_bucketed(
    spark,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 64,
    state_shards: int = 8,
    contract_table: str | None = "events",
) -> None:
    """File stream → bucketed event-time sessionizer → parquet.

    Same watermark/timeout/append contract and row-identical output to
    :func:`run_session_stream`; the grouping key is
    ``pmod(xxhash64(user_id), n_buckets)`` so the per-key protocol cost
    amortizes over the bucket (see
    :func:`close_idle_sessions_bucketed`). Size ``n_buckets`` to keep
    protocol cost negligible while leaving enough keys to spread across
    ``state_shards`` (and, on a cluster, executors): buckets ≫ shards,
    users ≫ buckets.
    """
    from pyspark.sql import functions as F

    from .runner import _drain, _file_stream, _overwrite_sink

    stream = _file_stream(
        spark,
        source_dir,
        "user_id",
        "ts",
        "event_id",
        # applyInPandasWithState requires the grouping key to be a
        # concrete column of the child, not a groupBy expression
        F.pmod(F.xxhash64(F.col("user_id")), F.lit(n_buckets)).alias("bucket"),
        contract_table=contract_table,
    )
    stream = _observe_wm_saturation(stream)
    stream = stream.select(
        "user_id", "event_id", "bucket", ts_us_expr(), _clamped_wm_ts()
    ).withWatermark("ts", "0 seconds")
    sessions = cast_session_bounds(
        stream.groupBy("bucket").applyInPandasWithState(
            close_idle_sessions_bucketed,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=BUCKET_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )

    q = _drain(
        sessions,
        _overwrite_sink(sink_dir),
        checkpoint_dir,
        "append",
        state_shards=state_shards,
        contract_table=contract_table,
    )
    _warn_wm_saturation(q)
