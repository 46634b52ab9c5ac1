"""Round-13 operator tests: the extended x00 sentinel probes.

The round-12 hostile sweeps found two seams that had been invisible for
twelve rounds (session touch-merge, spend-trend anchoring); the round-12
verdict asked for the sentinel to carry both so they stay DRIVER-visible
every round. These tests pin the planted expectations at the value
level — the driver hash then guards them cross-engine.
"""

from __future__ import annotations

from reddit_data_engineering_project_spark import registry

registry.load_all_operators()

_GAP = 1_800_000_000  # 30 minutes in µs (the probe's session gap)


def _audit_rows(spark):
    return registry.QUERIES["x00_adversarial_audit"](
        spark, "/root/testdata/sf0.001"
    ).collect()


def test_x00_session_touch_merge_probe(spark):
    """Planted pairs exactly gap / gap±1µs / 0µs apart: Spark's
    F.session_window MERGES windows that touch (the round-12
    boundary-tie finding, commit 9d0ccc8), so the exactly-gap pair is
    ONE session of 2 spanning 2×gap; only the gap+1µs pair splits."""
    rows = _audit_rows(spark)
    sess = {r.id: r.out for r in rows if r.probe == "sess_touch"}

    # skey = id % 4 picks the class; the first pair of each class
    # starts at id = skey (ids 0..3).
    assert sess[0] == 2 * 10**10 + 2 * _GAP  # touch (== gap): MERGED
    assert sess[1] == 1 * 10**10 + _GAP  # gap + 1µs: split singleton
    assert sess[2] == 2 * 10**10 + 2 * _GAP - 1  # gap - 1µs: merged
    assert sess[3] == 2 * 10**10 + _GAP  # coincident: merged, 0 span
    # 257 planted events (ids 0..256): skey 0 holds 65 rows (32 merged
    # pairs + 1 trailing singleton = 33 sessions), skeys 2/3 hold 64
    # (32 merged pairs each), skey 1 splits its 64 rows into 64
    # singletons — 33 + 64 + 32 + 32 = 161 sessions.
    assert len(sess) == 161
    assert sess[256] == 1 * 10**10 + _GAP  # the skey-0 singleton


def test_x00_spend_trend_anchor_probe(spark):
    """The trend probe anchors day indexes on the earliest DATED
    PURCHASE (planted 3 days after every non-purchase date, so an
    all-events anchor shifts sx) and drops NULL-date purchases (a
    phantom point would inflate n and sy) — the q21_spend_trend_ols
    seam of commit cda0e90, recomputed here from the planting rule."""
    rows = _audit_rows(spark)
    trend = {
        (r.probe, r.id): r.out for r in rows if r.probe.startswith("trend")
    }

    # Replant in Python: ids 0..256, purchases = id % 3 == 0, dated
    # unless bucket (id % 8) == 3; date offset = (id % 16) + 3, amount
    # = (id % 50)*100 + 49 cents; groups g = id % 2.
    dated = [i for i in range(257) if i % 3 == 0 and i % 8 != 3]
    for g in (0, 1):
        ids = [i for i in dated if i % 2 == g]
        anchor = min(i % 16 for i in ids)  # the +3 offset cancels
        assert trend[("trend_n", g)] == len(ids)
        assert trend[("trend_sx", g)] == sum(i % 16 - anchor for i in ids)
        assert trend[("trend_sy", g)] == sum(
            (i % 50) * 100 + 49 for i in ids
        )
    # The NULL-date purchases are all odd ids (3 + 24k), so the g=1
    # count must sit strictly below g=0's — the phantom-point guard.
    assert trend[("trend_n", 1)] < trend[("trend_n", 0)]


# ------------------------------------------- r12 advice: fold inputs


def test_zscore_fold_unquantized_takes_sequential_arm(monkeypatch):
    """Dispatch to the vectorized arm requires the exactness domain
    (integral doubles ≤ _VECTOR_EXACT_MAX), not just batch size: raw
    live doubles could otherwise flip a half-up e4 rounding at an
    association-order boundary between the two arms (r12 advice)."""
    import numpy as np

    from reddit_data_engineering_project_spark.streaming import stateful

    calls = []
    real_seq = stateful._zscore_fold_seq

    def spy(tail, ev, vals):
        calls.append(len(vals))
        return real_seq(tail, ev, vals)

    monkeypatch.setattr(stateful, "_VECTOR_MIN", 0)
    monkeypatch.setattr(stateful, "_zscore_fold_seq", spy)

    ev = np.arange(100, dtype="int64")
    # non-integral raw doubles -> sequential even above the threshold
    stateful._zscore_fold([], ev, np.full(100, 1.25))
    assert calls == [100]
    # integral but out of the exact-sum range -> sequential
    stateful._zscore_fold([], ev, np.full(100, 4.0e7))
    assert calls == [100, 100]
    # a single non-integral TAIL value poisons the batch too
    stateful._zscore_fold([0.5], ev, np.full(100, 3.0))
    assert calls == [100, 100, 100]
    # integral in-range values -> vectorized (spy NOT called)
    stateful._zscore_fold([], ev, np.full(100, 12340000.0))
    assert calls == [100, 100, 100]


# ------------------------------------- r12 advice: progress coverage


def test_contract_gate_refuses_full_progress_buffer(spark):
    """raise_on_contract_violations must REFUSE to vouch when the
    progress buffer is at capacity — eviction of early batches'
    observe() metrics (a silent false-pass) can then not be ruled out
    (r12 advice). Below capacity, clean sums pass as before."""
    import pytest

    from reddit_data_engineering_project_spark.session import (
        ensure_session_confs,
    )
    from reddit_data_engineering_project_spark.streaming.runner import (
        raise_on_contract_violations,
    )

    ensure_session_confs(spark)
    cap = int(
        spark.conf.get("spark.sql.streaming.numRecentProgressUpdates")
    )
    assert cap >= 10_000  # session default raised from Spark's 100

    class _Progress:
        observedMetrics = {}

    class _Query:
        def __init__(self, n):
            self.recentProgress = [_Progress()] * n

    # full buffer -> refuse, even with zero observed violations
    with pytest.raises(RuntimeError, match="cannot vouch"):
        raise_on_contract_violations(_Query(cap), "events", spark)
    # below the cap -> clean pass
    raise_on_contract_violations(_Query(cap - 1), "events", spark)
    # no spark handle -> the conservative built-in floor of 100 governs
    with pytest.raises(RuntimeError, match="cannot vouch"):
        raise_on_contract_violations(_Query(100), "events")


def test_degenerate_gate_summary_parse_and_contract():
    """The standing degenerate gate (r12 verdict item 3) parses
    check_oracle's summary line correctly and carries exactly the
    documented expectations — the cheap plumbing pin; the full sweep
    over every corpus runs as ``python tools/degenerate_gate.py``."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    import degenerate_gate as dg

    m = dg._SUMMARY.match("205 ok, 2 fail; failing: q09_cube,q09_rollup")
    assert m and m.group(3) == "q09_cube,q09_rollup"
    m2 = dg._SUMMARY.match("207 ok, 0 fail")
    assert m2 and m2.group(3) is None

    # the documented divergence state, pinned value-for-value against
    # tests/test_adversarial_corpus.py's shape pins
    assert dg.EXPECTED_FAILS["empty"] == {"q09_cube", "q09_rollup"}
    assert dg.EXPECTED_FAILS["one_row"] == {"q09_rollup"}
    for t in ("events", "documents", "embeddings"):
        assert dg.EXPECTED_FAILS[f"mixed_{t}_empty"] == frozenset()
    # the round-13 zero-variance corpora: first full sweeps were
    # 208 ok / 0 fail each, and the gate holds them there
    assert dg.EXPECTED_FAILS["monoculture"] == frozenset()
    assert dg.EXPECTED_FAILS["flat_time"] == frozenset()
    # the nullity axis (all swept clean after the quality-report fix)
    for col in ("value", "ts", "user_id", "text"):
        assert dg.EXPECTED_FAILS[f"null_{col}"] == frozenset()


def test_zero_variance_writers_produce_what_they_claim(tmp_path):
    """The monoculture writer zeroes dispersion on every analyzed axis
    (text / n_chars consistency, event value, embedding) and the
    flat-time writer collapses every non-NULL ts to ONE instant while
    leaving other tables untouched."""
    import os
    import sys

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    import degenerate_corpus as deg

    src = "/root/testdata/sf0.001"
    mono, flat = str(tmp_path / "mono"), str(tmp_path / "flat")
    deg.write_monoculture(src, mono)
    deg.write_flat_time(src, flat)

    docs = pq.read_table(f"{mono}/documents.parquet")
    assert set(docs["text"].to_pylist()) == {deg.MONO_TEXT}
    assert set(docs["n_chars"].to_pylist()) == {len(deg.MONO_TEXT)}
    ev = pq.read_table(f"{mono}/events.parquet")
    assert set(ev["value"].to_pylist()) <= {deg.MONO_VALUE, None}
    emb = pq.read_table(f"{mono}/embeddings.parquet")
    first = emb["embedding"][0].as_py()
    assert set(first) == {deg.MONO_COMPONENT}
    assert all(v.as_py() == first for v in emb["embedding"])

    fev = pq.read_table(f"{flat}/events.parquet")
    src_ev = pq.read_table(f"{src}/events.parquet")
    nonnull = [t.as_py() for t in fev["ts"] if t.is_valid]
    assert len(set(nonnull)) == 1
    assert pc.sum(pc.is_null(fev["ts"]).cast("int64")).as_py() == pc.sum(
        pc.is_null(src_ev["ts"]).cast("int64")
    ).as_py()
    # non-events tables pass through byte-identical row values
    assert pq.read_table(f"{flat}/documents.parquet").equals(
        pq.read_table(f"{src}/documents.parquet")
    )


# --- BMP codec seam (r12 verdict item 4) -----------------------------


def test_bmp_roundtrip_and_geometry():
    import numpy as np

    from reddit_data_engineering_project_spark.operators.multimodal import (
        _planted_pixels,
        decode_bmp,
        decode_media,
        encode_bmp,
    )

    for doc_id in (0, 1, 7, 123, 10**12 + 17):
        px = _planted_pixels(doc_id)
        payload = encode_bmp(px)
        assert payload[:2] == b"BM"
        h, w, _ = px.shape
        stride = ((3 * w + 3) // 4) * 4
        assert len(payload) == 54 + stride * h  # 4-byte row alignment
        out = decode_media(payload, "image/bmp")
        assert out.dtype == np.uint8 and out.shape == (h, w, 3)
        assert np.array_equal(out, px)


def test_bmp_decoder_handles_topdown_and_pixel_offset():
    """The two layout degrees of freedom a foreign writer can exercise:
    negative (top-down) height, and pixel data NOT at byte 54."""
    import numpy as np

    from reddit_data_engineering_project_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    px = np.arange(5 * 3 * 3, dtype=np.uint8).reshape(5, 3, 3)
    b = bytearray(encode_bmp(px))
    # flip to top-down: negate height, un-reverse the stored rows
    h, w = 5, 3
    stride = ((3 * w + 3) // 4) * 4
    body = np.frombuffer(bytes(b[54:]), dtype=np.uint8).reshape(h, stride)
    b[22:26] = (-h).to_bytes(4, "little", signed=True)
    b[54:] = body[::-1].tobytes()
    assert np.array_equal(decode_bmp(bytes(b)), px)

    # pixel data shifted by a 16-byte gap (palette/profile space)
    b2 = bytearray(encode_bmp(px))
    b2[10:14] = (54 + 16).to_bytes(4, "little")
    b2[2:6] = (len(b2) + 16).to_bytes(4, "little")
    shifted = bytes(b2[:54]) + b"\xaa" * 16 + bytes(b2[54:])
    assert np.array_equal(decode_bmp(shifted), px)


def test_bmp_decoder_rejects_out_of_envelope():
    import numpy as np
    import pytest

    from reddit_data_engineering_project_spark.operators.multimodal import (
        decode_bmp,
        decode_media,
        encode_bmp,
    )

    px = np.zeros((2, 2, 3), dtype=np.uint8)
    good = encode_bmp(px)
    with pytest.raises(ValueError, match="magic"):
        decode_bmp(b"XX" + good[2:])
    with pytest.raises(ValueError, match="truncated"):
        decode_bmp(good[:-4])
    bpp8 = bytearray(good)
    bpp8[28:30] = (8).to_bytes(2, "little")
    with pytest.raises(NotImplementedError, match="24-bit"):
        decode_bmp(bytes(bpp8))
    rle = bytearray(good)
    rle[30:34] = (1).to_bytes(4, "little")  # BI_RLE8
    with pytest.raises(NotImplementedError, match="compression"):
        decode_bmp(bytes(rle))
    bad_off = bytearray(good)
    bad_off[10:14] = (0).to_bytes(4, "little")  # points into the header
    with pytest.raises(ValueError, match="header region"):
        decode_bmp(bytes(bad_off) + b"\x00" * 64)
    # the seam still raises for undecodable media types (image/png
    # gained a REAL decoder in round 15 and image/jpeg in round 17,
    # so the no-codec example is now GIF; a corrupt PNG routes to
    # decode_png and raises ValueError instead)
    with pytest.raises(NotImplementedError, match="codec"):
        decode_media(b"GIF89a", "image/gif")
    with pytest.raises(ValueError, match="signature"):
        decode_media(b"\x89PNG", "image/png")


def test_bmp_stats_pin_row_and_channel_order():
    """A decoder that skips the bottom-up flip or the BGR swap still
    produces correct SUMS — only order/channel-sensitive stats catch
    it. Simulate both bugs and assert the pinned stats move."""
    import numpy as np

    from reddit_data_engineering_project_spark.operators.multimodal import (
        _planted_pixels,
        encode_bmp,
    )

    px = _planted_pixels(3)  # h=6, w=7: asymmetric on purpose
    payload = encode_bmp(px)
    h, w = px.shape[0], px.shape[1]
    stride = ((3 * w + 3) // 4) * 4
    raw = np.frombuffer(payload[54:], dtype=np.uint8).reshape(h, stride)
    bgr_rows = raw[:, : 3 * w].reshape(h, w, 3)
    no_flip = bgr_rows[..., ::-1]          # forgot bottom-up
    no_swap = bgr_rows[::-1]               # forgot BGR->RGB
    correct = bgr_rows[::-1][..., ::-1]
    assert np.array_equal(correct, px)
    weights = np.arange(1, h + 1, dtype=np.int64)[:, None, None]
    good_rowsum = int((px.astype(np.int64) * weights).sum())
    assert int((no_flip.astype(np.int64) * weights).sum()) != good_rowsum
    assert tuple(no_swap[0, 0]) != tuple(px[0, 0])


def test_ppm_roundtrip_header_grammar_and_cross_codec_identity():
    """The second real codec rung: P6 PPM round-trip, comment/whitespace
    header grammar, error envelope — and cross-codec identity (the same
    pixels through BMP and PPM decode to the same array, pinning that
    neither codec's layout handling leaks into pixel values)."""
    import numpy as np
    import pytest

    from reddit_data_engineering_project_spark.operators.multimodal import (
        _planted_pixels,
        decode_media,
        decode_ppm,
        encode_bmp,
        encode_ppm,
    )

    for doc_id in (0, 5, 42):
        px = _planted_pixels(doc_id)
        assert np.array_equal(
            decode_media(encode_ppm(px), "image/x-portable-pixmap"), px
        )
        assert np.array_equal(
            decode_media(encode_bmp(px), "image/bmp"),
            decode_media(encode_ppm(px), "image/x-portable-pixmap"),
        )

    px = _planted_pixels(3)
    h, w = px.shape[:2]
    commented = (
        b"P6 # a comment after the magic\n# full-line comment\n"
        + f"{w} # width\n{h}\n# before maxval\n255\n".encode()
        + px.tobytes()
    )
    assert np.array_equal(decode_ppm(commented), px)

    with pytest.raises(ValueError, match="magic"):
        decode_ppm(b"P3\n1 1\n255\n abc")
    with pytest.raises(ValueError, match="magic"):
        decode_ppm(b"P69 2 255\n" + b"\x00" * 54)  # magic != whole token
    with pytest.raises(ValueError, match="truncated"):
        decode_ppm(encode_ppm(px)[:-2])
    with pytest.raises(NotImplementedError, match="8-bit"):
        decode_ppm(b"P6\n1 1\n65535\n" + b"\x00" * 6)
    # maxval < 1 is invalid PPM, not wide PPM — loud ValueError, not a
    # silent decode (r13 ADVICE finding)
    with pytest.raises(ValueError, match="maxval"):
        decode_ppm(b"P6\n1 1\n0\n" + b"\x00" * 3)
    with pytest.raises(ValueError, match="maxval"):
        decode_ppm(b"P6\n1 1\n-5\n" + b"\x00" * 3)


def test_null_value_corpus_quality_report_says_zero_not_null(
    spark, tmp_path
):
    """The nullity-corpus finding, pinned at the value level: with every
    events.value NULL, the quality report's predicate counters must say
    0, not NULL — F.sum(pred.cast(...)) skips NULL predicates and
    collapses an all-NULL column to a NULL report cell, which the
    when/otherwise(0) form (matching the oracle's CASE..ELSE 0) fixes.
    Same shape pinned for all-NULL ts via ts_out_of_range."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    import degenerate_corpus as deg

    src = "/root/testdata/sf0.001"
    for col, cell in (("value", "negative_value"), ("ts", "ts_out_of_range")):
        out = str(tmp_path / f"null_{col}")
        deg.write_null_column(src, out, col)
        row = registry.QUERIES["x04_data_quality_report"](
            spark, out
        ).collect()[0]
        assert row[cell] == 0, f"{cell} must be 0 on all-NULL {col}, got {row[cell]!r}"
        assert row[f"null_{col}"] == row["n_rows"]
        # unknown_event_type shares the fixed form; event_type is intact
        # here, so it keeps the corpus's real out-of-enum count (> 0 and
        # crucially NOT NULL)
        assert row["unknown_event_type"] is not None
        assert row["unknown_event_type"] > 0


def test_null_text_corpus_runs_payload_and_udf_paths(spark, tmp_path):
    """The null-text nullity finding, pinned: all-NULL documents.text
    must not crash the mapInPandas payload passes (len(None)) or the
    Arrow TTR UDF (None.split), and size(NULL) must be NULL, not the
    legacy -1 sentinel. Each fixed entry runs AND hash-matches its
    oracle on the degenerate corpus."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    import degenerate_corpus as deg
    from check_oracle import _check_entry, _oracle_db

    out = str(tmp_path / "null_text")
    deg.write_null_column("/root/testdata/sf0.001", out, "text", "documents")

    con = _oracle_db(out)
    try:
        for name in (
            "q17_array_funcs",
            "q20_arrow_udf_ttr",
            "x05_binary_features",
            "x05_frame_dedup",
            "x05_frame_sample",
            "x05_payload_resize",
        ):
            _, problems = _check_entry(spark, con, name, out)
            assert not problems, f"{name}: {'; '.join(problems)}"
        # the size(NULL) law itself, directly
        from pyspark.sql import functions as F

        row = spark.range(1).select(
            F.size(F.lit(None).cast("array<int>")).alias("s")
        ).collect()[0]
        assert row.s is None, f"size(NULL) must be NULL, got {row.s!r}"
    finally:
        con.close()
