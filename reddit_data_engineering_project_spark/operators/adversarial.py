"""X0: the adversarial audit — hostile value classes, driver-graded.

``tools/adversarial_corpus.py`` re-checks every oracle per pytest run on
a hostile same-schema corpus, but that guarantee lived only in pytest:
the driver's fixtures may simply never exhibit the value classes that
historically caused silent cross-engine divergence (round-8 found 28 of
them). This entry PLANTS a deterministic hostile slice inside the
standard corpus — every hostile value derives from corpus keys via
literal CASE expressions that both engines evaluate identically — and
runs a compact cross-section of the divergence-prone lens classes over
it, so the guarantees earn a driver hash row every round:

- the three JSON extraction lenses (strict ``from_json`` int, the
  truncating string→long CAST, the ``try_variant_get`` long lens) over
  8 planted wire classes: int, float, quoted int, boolean, negative
  float, out-of-int64 number, malformed, empty string — each lens has
  DIFFERENT semantics, mirrored per the probed parity table (see
  q17_json_funcs / q17_map_funcs / q17_variant_shred docstrings);
- window rank + lag over PLANTED NULL event times (NULLS FIRST
  ordering parity, NULL-propagating µs gaps);
- empty-payload framing: the guarded ``sequence`` spine (Spark's
  ``sequence(0, -1)`` silently DESCENDS; the guard must emit an empty
  frame and a zero fold on both engines);
- zero-vector cosine (the normalization guard: zero norm → NULL, not
  a division blow-up);
- rounding ties at exact half boundaries (HALF-away-from-zero parity,
  including a binary-inexact 0.05 case);
- (round 13) session-gap boundary: planted event pairs EXACTLY the
  session gap apart, gap+1µs apart, gap-1µs apart, and coincident —
  graded through ``F.session_window``, whose windows MERGE when they
  touch (the round-12 boundary-tie sweep finding, commit 9d0ccc8); the
  oracle splits sessions on strict ``>`` gap, so any drift back toward
  an exclusive-end assumption flips the hash;
- (round 13) spend-trend anchoring: planted purchases whose dates all
  trail the group's earliest NON-purchase event by 3 days, plus
  NULL-date purchases — the probe emits the dated-purchase count,
  the day-index sum from the PURCHASE-anchored origin, and the amount
  sum, so anchoring on all events or counting an undated (phantom)
  point flips the hash (the round-12 calendar-edge sweep finding,
  commit cda0e90);
- (round 14) NULL-key digest propagation: half the planted rows carry
  a NULL source-like key that Spark's NULL-propagating ``concat``
  turns into a NULL token array — the probe emits the length of the
  joined tokens GATED on the array's nullity, because ``concat_ws``
  flattens a NULL array to ``''`` (length 0, md5 d41d8cd9...) while
  the oracle's ``array_to_string(NULL)`` stays NULL (the
  round-14 null-source sweep finding in ``pipeline_curation_full``);
  any drift back to the ungated form emits 0 where NULL belongs and
  flips the hash;
- (round 15) empty-input ROLLUP/CUBE semantics, hash-graded: Spark
  emits ZERO rows for ``rollup()``/``cube()`` over empty input where
  ANSI/DuckDB emit the grand-total row — the standing degenerate
  gate's one accepted divergence ({q09_cube, q09_rollup} on the empty
  corpus), until now documented-and-gated but never driver-visible.
  The probes count the rollup/cube output rows of an always-empty
  slice; the oracle pins the DOCUMENTED Spark value through a guarded
  CASE (0 when the slice is empty, else the genuine ANSI rollup/cube
  count — so a hostile corpus that ever populates the slice grades
  the real agreement, and a Spark engine change that starts emitting
  the grand-total row flips the hash loudly instead of "healing"
  silently);
- (round 15) NEGATIVE-KEY totality: the negated-event_id hostile
  corpus caught this entry's own planted geometry diverging (372-row
  session drift on first sweep) through two stacked bugs —
  ``_case_over_bucket`` falls through to the LAST arm for
  out-of-range buckets while the SQL CASE (no ELSE) yields NULL, and
  Spark ``DIV`` / DuckDB ``//`` both truncate toward zero where the
  comb math assumed floor. Every key-derived bucket is now FLOORED
  on both sides (``F.pmod`` / ``((x % m) + m) % m``, and division
  spelled ``(x - floored_mod(x, m)) DIV m`` so truncation equals
  floor on the exact multiple) — the planted classes are total over
  the whole int64 key domain, and the standing ``neg_event_id`` /
  ``neg_doc_id`` gate corpora keep them so.

- (round 17) DUPLICATE-JSON-KEY policy pins, driver-visible: RFC 8259
  leaves duplicate member names undefined and the engines genuinely
  part ways (the r16 seventeenth-wave finding, gate-pinned as the
  ``dup_key_props`` fail set) — Spark ``from_json``-STRUCT keeps the
  LAST occurrence (Jackson), ``from_json``-MAP the FIRST (agreeing
  with DuckDB's yyjson), and Spark VARIANT REJECTS the object
  (``try_parse_json`` → NULL), equal-value duplicates included. Three
  planted dup-key wires (mirroring
  ``tools/degenerate_corpus.DUP_KEY_PROPS``) probe all three APIs;
  the oracle computes the MAP lens genuinely (first-wins on both
  engines) and pins the STRUCT/VARIANT winners through guarded CASE
  (guard: the first-wins extraction still sees key ``k``, proving the
  planted wire is intact) — an engine upgrade that changes Jackson's
  last-wins policy or VARIANT's reject now flips the hash loudly
  instead of silently re-shaping the accepted gate fail set.

Every probe output is a BIGINT (scaled where fractional), emitted as
``(probe, id, out)`` rows so any single divergent value flips the
driver hash. The slice is fixed-size (event_id ≤ 256, vec_id < 32) —
constant cost at any corpus scale; the pytest sweep remains the broad
net, this entry is its driver-visible sentinel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from ..registry import register
from ..tables import _SESSION_GAP_MIN, table
from .similarity import _dot, _vec_double

#: Planted wire strings, one hostile JSON class per event_id % 8 bucket.
_WIRES = (
    '{"v": 7}',                       # strict in-range int: all lenses 7
    '{"v": 7.9}',                     # float: int lens NULL, others trunc 7
    '{"v": "7"}',                     # quoted int: int lens NULL, others 7
    '{"v": true}',                    # bool: only variant casts (-> 1)
    '{"v": -7.5}',                    # negative float: trunc toward zero -7
    '{"v": 99999999999999999999}',    # out of int64: every lens NULL
    "not json",                       # malformed: every lens NULL
    "",                               # empty wire: every lens NULL
)

#: Planted half-boundary doubles (incl. a binary-inexact 0.05 pair).
_HALVES = (-2.5, -1.5, -0.5, 0.5, 1.5, 2.5, 0.05, -0.05)

#: Planted duplicate-key wires, one per event_id % 3 bucket — the same
#: three shapes as ``tools/degenerate_corpus.DUP_KEY_PROPS`` (kept as
#: literals here so the package never imports from tools/): unequal
#: values, equal values, interleaved with a second duplicated key.
_DUP_WIRES = (
    '{"k": 1, "k": 2}',
    '{"k": 7, "k": 7}',
    '{"a": 1, "k": 9, "k": 8, "a": 2}',
)
#: The DOCUMENTED Spark from_json-STRUCT winners (Jackson last-wins)
#: per shape — measured and pinned by
#: ``tests/test_round16_ops.py::test_dup_key_divergence_is_real_and_bounded``.
_DUP_STRUCT_LAST = (2, 7, 8)
_DUP_SCHEMA = "struct<k: bigint>"

#: Session-gap boundary probe: the gap in µs (30 minutes) and the epoch
#: base (2024-01-01T00:00:00Z). Per event: skey = event_id % 4 picks the
#: boundary class, idx = event_id DIV 4 lays out isolated pairs 3×gap
#: apart, and the second element of each pair sits `step` after the
#: first — exactly gap (touch → Spark MERGES), gap+1µs (split),
#: gap-1µs (merge), or 0µs (coincident).
_GAP_US = _SESSION_GAP_MIN * 60_000_000
_SESS_BASE_US = 1_704_067_200_000_000
_SESS_STEPS = (_GAP_US, _GAP_US + 1, _GAP_US - 1, 0)


def _case_over_bucket(bucket, values) -> F.Column:
    """Spark twin of :func:`_sql_case` (a CASE with NO ELSE arm).

    Falls through to NULL on an out-of-range bucket, exactly like the
    mirrored SQL — r15 ADVICE: the old form silently mapped strays to
    the LAST arm, the asymmetry behind the round-15 372-row drift.
    Call sites pass pmod-derived buckets so no arm is unreachable; an
    unguarded future caller now diverges loudly (NULL vs a value) in
    the oracle compare instead of silently agreeing with neither side.
    """
    expr: F.Column = F.lit(None)
    for i in range(len(values) - 1, -1, -1):
        expr = F.when(bucket == i, F.lit(values[i])).otherwise(expr)
    return expr


def _sql_case(col: str, values, quote: bool) -> str:
    arms = " ".join(
        "WHEN {} THEN {}".format(
            i, "'" + v.replace("'", "''") + "'" if quote else repr(v)
        )
        for i, v in enumerate(values)
    )
    return f"CASE {col} {arms} END"


@register(
    "x00_adversarial_audit",
    oracle="""
    WITH sl AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
               -- FLOORED mod (((x % m) + m) % m): SQL % truncates, so
               -- bare event_id % 8 is negative for negative ids and
               -- falls outside every CASE arm while the Spark fallback
               -- picks the last arm — the round-15 negated-key corpus
               -- made that real. Floored keys keep the planted classes
               -- total over the whole int64 domain on both engines.
               ((event_id % 8) + 8) % 8 AS b
        FROM events WHERE event_id <= 256
    ),
    planted AS (
        SELECT event_id, user_id, b,
               ((event_id % 3) + 3) % 3 AS b3,
               {DUP_CASE} AS dwire,
               {WIRE_CASE} AS wire,
               -- CAST to DOUBLE: repr() splices exact decimals, which
               -- DuckDB would otherwise type DECIMAL(3,2) and round in
               -- exact decimal arithmetic — the cast puts the oracle on
               -- the same binary-float rounding path Spark uses, so the
               -- 0.05 pair genuinely probes float semantics (r09 advice).
               CAST({HALF_CASE} AS DOUBLE) AS x,
               CASE WHEN b <= 2 THEN 0 ELSE ((event_id % 4) + 4) % 4 END AS n,
               CASE WHEN b = 3 THEN NULL ELSE ts END AS ts2,
               CASE WHEN b % 2 = 0 THEN NULL
                    ELSE 's' || CAST(((event_id % 5) + 5) % 5 AS VARCHAR) END AS src
        FROM sl
    ),
    wide AS (
        SELECT event_id,
            -- strict from_json int lens: in-range JSON integers only
            CASE WHEN json_valid(wire) THEN
                CASE WHEN json_type(json_extract(wire, '$.v'))
                          IN ('BIGINT', 'UBIGINT')
                          AND TRY_CAST(json_extract_string(wire, '$.v')
                                       AS BIGINT)
                              BETWEEN -2147483648 AND 2147483647
                     THEN CAST(json_extract_string(wire, '$.v') AS BIGINT)
                END END AS json_int,
            -- string->long CAST lens: any numeric string, trunc to zero
            CASE WHEN json_valid(wire) THEN
                CASE WHEN abs(TRY_CAST(json_extract_string(wire, '$.v')
                                       AS DOUBLE)) < 9.2233720368547e18
                     THEN CAST(trunc(TRY_CAST(
                              json_extract_string(wire, '$.v') AS DOUBLE))
                          AS BIGINT)
                END END AS json_cast,
            -- try_variant_get long lens: per-json-type semantics
            CASE WHEN json_valid(wire) THEN
                CASE json_type(json_extract(wire, '$.v'))
                    WHEN 'BIGINT' THEN
                        TRY_CAST(json_extract_string(wire, '$.v') AS BIGINT)
                    WHEN 'UBIGINT' THEN
                        TRY_CAST(json_extract_string(wire, '$.v') AS BIGINT)
                    WHEN 'DOUBLE' THEN
                        CASE WHEN abs(TRY_CAST(
                                 json_extract_string(wire, '$.v')
                                 AS DOUBLE)) < 9.2233720368547e18
                             THEN CAST(trunc(TRY_CAST(
                                 json_extract_string(wire, '$.v')
                                 AS DOUBLE)) AS BIGINT) END
                    WHEN 'BOOLEAN' THEN
                        CASE json_extract_string(wire, '$.v')
                            WHEN 'true' THEN 1 ELSE 0 END
                    WHEN 'VARCHAR' THEN
                        CASE WHEN regexp_matches(
                                 trim(json_extract_string(wire, '$.v')),
                                 '^[+-]?[0-9]+$')
                             THEN TRY_CAST(
                                 trim(json_extract_string(wire, '$.v'))
                                 AS BIGINT) END
                END END AS json_var,
            CAST(row_number() OVER w AS BIGINT) AS win_rank,
            epoch_us(ts2) - lag(epoch_us(ts2)) OVER w AS gap_us,
            CAST(len(range(0, n)) * 1000
                 + coalesce(list_aggregate(range(0, n), 'sum'), 0)
                 AS BIGINT) AS frame,
            CAST(round(x) AS BIGINT) * 1000
                + CAST(round(x * 10) AS BIGINT) AS round_pair,
            -- NULL-key digest law: array_to_string(NULL) is NULL, so a
            -- NULL src (propagated through ||) must emit NULL, never
            -- the 0 that a concat_ws-over-NULL-array spelling produces
            CAST(len(array_to_string(
                list_filter(string_split('text body ' || src, ' '),
                            t -> t <> ''), ' ')) AS BIGINT)
                AS null_concat,
            -- duplicate-key policy pins (round 17): the MAP lens is
            -- computed GENUINELY (yyjson first-wins = Spark
            -- from_json-MAP first-wins); the STRUCT lens pins the
            -- DOCUMENTED Jackson last-wins winner and the VARIANT lens
            -- the documented reject (NULL), each guarded on the
            -- first-wins extraction still seeing key k — a drifted
            -- planted wire degrades the pin loudly instead of
            -- vacuously agreeing
            TRY_CAST(json_extract_string(dwire, '$.k') AS BIGINT)
                AS dup_map,
            CASE WHEN json_extract_string(dwire, '$.k') IS NOT NULL
                 THEN {DUP_LAST_CASE} END AS dup_struct,
            CASE WHEN json_extract_string(dwire, '$.k') IS NOT NULL
                 THEN CAST(NULL AS BIGINT) END AS dup_var
        FROM planted
        WINDOW w AS (
            PARTITION BY user_id
            ORDER BY ts2 ASC NULLS FIRST, event_id
        )
    ),
    ev_probes AS (
        SELECT 'json_int' AS probe, event_id AS id, json_int AS out
        FROM wide
        UNION ALL
        SELECT 'json_cast', event_id, json_cast FROM wide
        UNION ALL
        SELECT 'json_var', event_id, json_var FROM wide
        UNION ALL
        SELECT 'win_rank', event_id, win_rank FROM wide
        UNION ALL
        SELECT 'gap_us', event_id, gap_us FROM wide
        UNION ALL
        SELECT 'frame', event_id, frame FROM wide
        UNION ALL
        SELECT 'round_pair', event_id, round_pair FROM wide
        UNION ALL
        SELECT 'null_concat', event_id, null_concat FROM wide
        UNION ALL
        SELECT 'dup_map', event_id, dup_map FROM wide
        UNION ALL
        SELECT 'dup_struct', event_id, dup_struct FROM wide
        UNION ALL
        SELECT 'dup_var', event_id, dup_var FROM wide
    ),
    v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings WHERE vec_id < 32
    ),
    pv AS (
        SELECT vec_id,
               CASE WHEN vec_id % 4 = 0
                    THEN list_transform(e, z -> 0.0) ELSE e END AS e
        FROM v
    ),
    q AS (SELECT e AS qe FROM v WHERE vec_id = 1),
    vec_probe AS (
        SELECT 'zerovec_cos' AS probe, pv.vec_id AS id,
               CASE WHEN list_dot_product(pv.e, pv.e) > 0
                         AND list_dot_product(q.qe, q.qe) > 0
                    THEN CAST(round(
                         list_dot_product(pv.e, q.qe)
                         / (sqrt(list_dot_product(pv.e, pv.e))
                            * sqrt(list_dot_product(q.qe, q.qe)))
                         * 1000000.0) AS BIGINT)
               END AS out
        FROM pv, q
    ),
    -- Session-gap boundary probe (round 13): Spark F.session_window
    -- MERGES windows that touch (commit 9d0ccc8), so the oracle splits
    -- sessions on STRICT > gap and sets end = last_ts + gap.
    sess_src AS (
        SELECT event_id, ((event_id % 4) + 4) % 4 AS skey,
               -- FLOORED division: DuckDB's // truncates toward zero
               -- (verified: -996 // 8 = -124, not -125), so the
               -- floored form subtracts the floored mod first — the
               -- numerator is then an exact multiple and truncation
               -- equals floor, mirroring Spark's
               -- (event_id - pmod(event_id, 8)) DIV 8 spelling.
               ((event_id - (((event_id % 8) + 8) % 8)) // 8) * {GAP3}
               + (((((event_id - (((event_id % 4) + 4) % 4)) // 4)
                    % 2) + 2) % 2) *
               CASE ((event_id % 4) + 4) % 4 {STEP_ARMS} END AS off
        FROM sl
    ),
    sess_lag AS (
        SELECT skey, event_id, off,
               CASE WHEN off - lag(off) OVER (
                        PARTITION BY skey ORDER BY off, event_id)
                         > {GAP} THEN 1 ELSE 0 END AS brk
        FROM sess_src
    ),
    sess_ids AS (
        SELECT skey, event_id, off,
               sum(brk) OVER (PARTITION BY skey ORDER BY off, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM sess_lag
    ),
    sess_probe AS (
        SELECT 'sess_touch' AS probe, min(event_id) AS id,
               CAST(count(*) * 10000000000
                    + (max(off) - min(off) + {GAP}) AS BIGINT) AS out
        FROM sess_ids GROUP BY skey, sid
    ),
    -- Spend-trend anchoring probe (round 13): day indexes anchor on the
    -- earliest DATED PURCHASE (never all events — purchases are planted
    -- 3 days after their bucket's non-purchase dates), and NULL-date
    -- purchases contribute to NOTHING (commit cda0e90's phantom point).
    tp0 AS (
        SELECT event_id, ((event_id % 2) + 2) % 2 AS g,
               CASE WHEN b = 3 THEN NULL
                    ELSE DATE '2024-01-01'
                         + CAST((((event_id % 16) + 16) % 16)
                         + CASE WHEN event_id % 3 = 0 THEN 3 ELSE 0 END
                         AS INTEGER)
               END AS pd,
               (((event_id % 50) + 50) % 50) * 100 + 49 AS amt
        FROM sl
    ),
    tp AS (
        SELECT * FROM tp0 WHERE event_id % 3 = 0 AND pd IS NOT NULL
    ),
    ta AS (SELECT g, min(pd) AS anchor FROM tp GROUP BY g),
    trend AS (
        SELECT tp.g, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(tp.pd - ta.anchor) AS BIGINT) AS sx,
               CAST(sum(tp.amt) AS BIGINT) AS sy
        FROM tp JOIN ta ON tp.g = ta.g GROUP BY tp.g
    ),
    trend_probes AS (
        SELECT 'trend_n' AS probe, g AS id, n AS out FROM trend
        UNION ALL
        SELECT 'trend_sx', g, sx FROM trend
        UNION ALL
        SELECT 'trend_sy', g, sy FROM trend
    )
    ,
    -- Empty-input ROLLUP/CUBE semantics (round 15): the oracle pins
    -- the DOCUMENTED Spark behavior (zero rows over empty input)
    -- through a guarded CASE — if the probed slice is ever non-empty
    -- (a hostile corpus planting negative event_ids), the guard falls
    -- through to the genuine ANSI rollup/cube row count, which the
    -- engines agree on for non-empty input.
    grouping_probes AS (
        SELECT 'empty_rollup' AS probe, CAST(0 AS BIGINT) AS id,
               CASE WHEN NOT EXISTS
                        (SELECT 1 FROM events WHERE event_id < 0)
                    THEN CAST(0 AS BIGINT)
                    ELSE (SELECT CAST(count(*) AS BIGINT) FROM (
                          SELECT user_id FROM events
                          WHERE event_id < 0
                          GROUP BY ROLLUP(user_id)) t)
               END AS out
        UNION ALL
        SELECT 'empty_cube', CAST(0 AS BIGINT),
               CASE WHEN NOT EXISTS
                        (SELECT 1 FROM events WHERE event_id < 0)
                    THEN CAST(0 AS BIGINT)
                    ELSE (SELECT CAST(count(*) AS BIGINT) FROM (
                          SELECT user_id, event_type FROM events
                          WHERE event_id < 0
                          GROUP BY CUBE(user_id, event_type)) t)
               END
    )
    SELECT probe, id, out FROM ev_probes
    UNION ALL
    SELECT probe, id, out FROM vec_probe
    UNION ALL
    SELECT probe, id, out FROM sess_probe
    UNION ALL
    SELECT probe, id, out FROM trend_probes
    UNION ALL
    SELECT probe, id, out FROM grouping_probes
    """.replace("{WIRE_CASE}", _sql_case("b", _WIRES, quote=True))
    .replace("{DUP_CASE}", _sql_case("b3", _DUP_WIRES, quote=True))
    .replace(
        "{DUP_LAST_CASE}",
        _sql_case("b3", _DUP_STRUCT_LAST, quote=False),
    )
    .replace("{HALF_CASE}", _sql_case("b", _HALVES, quote=False))
    .replace("{GAP3}", str(3 * _GAP_US))
    .replace("{GAP}", str(_GAP_US))
    .replace(
        "{STEP_ARMS}",
        " ".join(f"WHEN {i} THEN {s}" for i, s in enumerate(_SESS_STEPS)),
    ),
    tags=("adversarial", "X0", "audit"),
)
def x00_adversarial_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X0: the planted hostile-slice audit (module docstring has the
    full probe inventory). 256 event rows + 32 vectors, all hostile
    values planted by literal CASE over corpus keys, every output a
    BIGINT row ``(probe, id, out)``.

    Scale shape: irrelevant by construction — the slice is fixed-size
    at any SF (two pruned scans, one tiny window, one 1-row broadcast);
    the entry buys cross-engine certainty, not throughput.
    """
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_id") <= 256)
        .select("event_id", "user_id", "ts")
    )
    # pmod mirrors the oracle's floored-mod spelling (see the sl
    # CTE comment): planted classes stay total for negative ids
    b = F.pmod(F.col("event_id"), F.lit(8)).cast("int")
    wire = _case_over_bucket(b, _WIRES)
    x = _case_over_bucket(b, _HALVES)
    n = F.when(b <= 2, F.lit(0)).otherwise(
        F.pmod(F.col("event_id"), F.lit(4)).cast("int")
    )
    ts2 = F.when(b == 3, F.lit(None).cast("timestamp")).otherwise(
        F.col("ts")
    )
    src = F.when(b % 2 == 0, F.lit(None).cast("string")).otherwise(
        F.concat(F.lit("s"), F.pmod(F.col("event_id"), F.lit(5)).cast("string"))
    )
    b3 = F.pmod(F.col("event_id"), F.lit(3)).cast("int")
    dwire = _case_over_bucket(b3, _DUP_WIRES)
    planted = ev.select(
        "event_id", "user_id", wire.alias("wire"), x.alias("x"),
        n.alias("n"), ts2.alias("ts2"), src.alias("src"),
        dwire.alias("dwire"),
    )

    # Spark Window.orderBy ascending = NULLS FIRST (oracle mirrors it
    # explicitly; DuckDB's ASC default is NULLS LAST).
    w = Window.partitionBy("user_id").orderBy("ts2", "event_id")
    vschema = StructType([StructField("v", IntegerType(), True)])
    arr = F.when(
        F.col("n") > 0,
        F.sequence(F.lit(0), F.col("n") - 1).cast("array<bigint>"),
    ).otherwise(F.array().cast("array<bigint>"))
    _null_toks = F.filter(
        F.split(F.concat(F.lit("text body "), F.col("src")), " "),
        lambda t: t != "",
    )
    wide = planted.select(
        "event_id",
        F.from_json("wire", vschema).v.cast("long").alias("json_int"),
        F.get_json_object("wire", "$.v").cast("long").alias("json_cast"),
        F.try_variant_get(
            F.try_parse_json("wire"), "$.v", "long"
        ).alias("json_var"),
        F.row_number().over(w).cast("long").alias("win_rank"),
        (
            F.unix_micros("ts2") - F.lag(F.unix_micros("ts2")).over(w)
        ).alias("gap_us"),
        (
            F.size(arr).cast("long") * 1000
            + F.aggregate(arr, F.lit(0).cast("long"), lambda a, z: a + z)
        ).alias("frame"),
        (
            F.round("x").cast("long") * 1000
            + F.round(F.col("x") * 10).cast("long")
        ).alias("round_pair"),
        # the round-14 curation-seam law: gate the joined-token length
        # on the array's nullity — concat_ws flattens a NULL array to
        # '' (length 0) where the oracle's array_to_string(NULL) stays
        # NULL, so the ungated spelling flips this probe's hash
        F.when(
            _null_toks.isNotNull(),
            F.length(F.concat_ws(" ", _null_toks)),
        ).cast("long").alias("null_concat"),
        # duplicate-key policy pins (round 17): the three APIs applied
        # to the SAME planted dup-key wire — from_json-MAP first-wins
        # (the oracle computes this genuinely), from_json-STRUCT
        # last-wins (the oracle pins Jackson's documented winner),
        # VARIANT reject (try_parse_json -> NULL; strict parse_json
        # raises VARIANT_DUPLICATE_KEY)
        F.from_json("dwire", "map<string,bigint>")[F.lit("k")].alias(
            "dup_map"
        ),
        F.from_json("dwire", _DUP_SCHEMA).k.cast("long").alias(
            "dup_struct"
        ),
        F.try_variant_get(
            F.try_parse_json("dwire"), "$.k", "long"
        ).alias("dup_var"),
    )
    stacked = wide.select(
        F.expr(
            "stack(11, 'json_int', json_int, 'json_cast', json_cast, "
            "'json_var', json_var, 'win_rank', win_rank, "
            "'gap_us', gap_us, 'frame', frame, "
            "'round_pair', round_pair, "
            "'null_concat', null_concat, "
            "'dup_map', dup_map, 'dup_struct', dup_struct, "
            "'dup_var', dup_var) AS (probe, out)"
        ),
        F.col("event_id").alias("id"),
    ).select("probe", "id", "out")

    emb = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 32)
        .select("vec_id", _vec_double("embedding").alias("e"))
    )
    pv = emb.select(
        "vec_id",
        F.when(
            F.col("vec_id") % 4 == 0,
            F.transform("e", lambda z: F.lit(0.0)),
        ).otherwise(F.col("e")).alias("e"),
    )
    q = emb.filter(F.col("vec_id") == 1).select(F.col("e").alias("qe"))
    vec_probe = pv.join(F.broadcast(q)).select(
        F.lit("zerovec_cos").alias("probe"),
        F.col("vec_id").alias("id"),
        F.when(
            (_dot(F.col("e"), F.col("e")) > 0)
            & (_dot(F.col("qe"), F.col("qe")) > 0),
            F.round(
                _dot(F.col("e"), F.col("qe"))
                / (
                    F.sqrt(_dot(F.col("e"), F.col("e")))
                    * F.sqrt(_dot(F.col("qe"), F.col("qe")))
                )
                * 1_000_000.0
            ).cast("long"),
        ).alias("out"),
    )

    # Session-gap boundary probe: the planted pairs sit EXACTLY gap /
    # gap±1µs / 0µs apart; F.session_window merges windows that touch
    # (round-12 boundary-tie finding, commit 9d0ccc8), which the oracle
    # mirrors with a strict-> split and end = last_ts + gap.
    skey = F.pmod(F.col("event_id"), F.lit(4)).cast("long")
    step = _case_over_bucket(skey, _SESS_STEPS).cast("long")
    # FLOORED integer division, spelled exactly ((a - pmod(a,b)) DIV b)
    # so it stays in int64: Spark's DIV truncates toward zero while
    # DuckDB's // floors — divergent on negative event_ids, which the
    # round-15 negated-key corpus made real (372-row session drift on
    # its first sweep). The numerator is an exact multiple of b, so
    # DIV == floor division here on both engines.
    off = (
        F.expr("(event_id - pmod(event_id, 8)) DIV 8")
        * F.lit(3 * _GAP_US)
        + F.pmod(
            F.expr("(event_id - pmod(event_id, 4)) DIV 4"), F.lit(2)
        ) * step
    )
    sess_src = ev.select(
        "event_id",
        skey.alias("skey"),
        F.timestamp_micros(F.lit(_SESS_BASE_US) + off).alias("ts3"),
    )
    sess_probe = (
        sess_src.groupBy(
            "skey",
            F.session_window("ts3", f"{_SESSION_GAP_MIN} minutes").alias("sw"),
        )
        .agg(
            F.min("event_id").alias("id"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select(
            F.lit("sess_touch").alias("probe"),
            F.col("id").cast("long").alias("id"),
            (
                F.col("cnt") * F.lit(10_000_000_000)
                + F.unix_micros(F.col("sw.end"))
                - F.unix_micros(F.col("sw.start"))
            ).cast("long").alias("out"),
        )
    )

    # Spend-trend anchoring probe: dated purchases only, day indexes
    # from the PURCHASE-anchored origin (planted 3 days after the
    # bucket's non-purchase dates), NULL-date purchases dropped — the
    # q21_spend_trend_ols seam (commit cda0e90), driver-visible.
    is_p = F.col("event_id") % 3 == 0
    pd_col = F.when(b == 3, F.lit(None).cast("date")).otherwise(
        F.date_add(
            F.to_date(F.lit("2024-01-01")),
            (F.pmod(F.col("event_id"), F.lit(16))
             + F.when(is_p, 3).otherwise(0)).cast("int"),
        )
    )
    dated_purchases = ev.filter(is_p & pd_col.isNotNull()).select(
        F.pmod(F.col("event_id"), F.lit(2)).cast("long").alias("g"),
        pd_col.alias("pd"),
        (F.pmod(F.col("event_id"), F.lit(50)) * 100 + 49)
        .cast("long").alias("amt"),
    )
    anchor = F.min("pd").over(Window.partitionBy("g"))
    trend = (
        dated_purchases.withColumn("x", F.datediff("pd", anchor))
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("amt").cast("long").alias("sy"),
        )
    )
    trend_probes = trend.select(
        F.expr(
            "stack(3, 'trend_n', n, 'trend_sx', sx, 'trend_sy', sy) "
            "AS (probe, out)"
        ),
        F.col("g").alias("id"),
    ).select("probe", "id", "out")

    # Empty-input ROLLUP/CUBE probes: Spark's documented zero-rows
    # semantics, measured (not assumed) by counting the grouping
    # output of an always-empty slice — a 1-row aggregate over a
    # pruned scan, constant cost at any SF.
    neg = table(spark, sf_dir, "events").filter(F.col("event_id") < 0)
    empty_rollup = (
        neg.rollup("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.count(F.lit(1)).cast("long").alias("out"))
        .select(
            F.lit("empty_rollup").alias("probe"),
            F.lit(0).cast("long").alias("id"),
            "out",
        )
    )
    empty_cube = (
        neg.cube("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.count(F.lit(1)).cast("long").alias("out"))
        .select(
            F.lit("empty_cube").alias("probe"),
            F.lit(0).cast("long").alias("id"),
            "out",
        )
    )

    return (
        stacked.unionByName(vec_probe)
        .unionByName(sess_probe)
        .unionByName(trend_probes)
        .unionByName(empty_rollup)
        .unionByName(empty_cube)
    )
