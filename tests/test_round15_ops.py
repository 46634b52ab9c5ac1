"""Round-15 pins: the corrupt-payload quarantine posture + the
gate's MUTATED_TABLES audit.

The driver-graded surface is ``x05_decode_errors`` (oracle-checked at
sf0.001/sf0.01 and swept by the standing degenerate gate); these tests
pin the pieces a hash can't localize — the total classifier's per-mode
err_kind mapping, and the two failure directions of the gate-time
mutation audit (r14 ADVICE, medium).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
)

from conftest import SF_DIR

from reddit_data_engineering_project_spark.operators.multimodal import (
    _planted_pixels,
    classify_media,
    decode_png,
    encode_bmp,
    encode_png,
    encode_ppm,
)


@pytest.mark.parametrize(
    "encode,media_type",
    [
        (encode_bmp, "image/bmp"),
        (encode_png, "image/png"),
        (encode_ppm, "image/x-portable-pixmap"),
    ],
    ids=["bmp", "png", "ppm"],
)
class TestClassifyMedia:
    def test_intact_decodes_ok(self, encode, media_type):
        px = _planted_pixels(7)
        img, status, err = classify_media(encode(px), media_type)
        assert (status, err) == ("ok", None)
        assert (img == px).all()

    def test_short_header_quarantines(self, encode, media_type):
        payload = encode(_planted_pixels(7))[:12]
        img, status, err = classify_media(payload, media_type)
        assert (img, status, err) == (None, "quarantined", "value_error")

    def test_bad_magic_quarantines(self, encode, media_type):
        payload = encode(_planted_pixels(7))
        payload = bytes((payload[0] ^ 0xFF, payload[1] ^ 0xFF)) + payload[2:]
        img, status, err = classify_media(payload, media_type)
        assert (img, status, err) == (None, "quarantined", "value_error")

    def test_torn_raster_quarantines(self, encode, media_type):
        payload = encode(_planted_pixels(7))[:-7]
        img, status, err = classify_media(payload, media_type)
        assert (img, status, err) == (None, "quarantined", "value_error")

    def test_undeclared_codec_quarantines(self, encode, media_type):
        # image/jpeg gained a real decoder in round 17 (these bytes
        # would now be a value_error bad-SOI quarantine); GIF is the
        # honest remaining undeclared type
        payload = encode(_planted_pixels(7))
        img, status, err = classify_media(payload, "image/gif")
        assert (img, status, err) == (None, "quarantined", "unsupported")

    def test_garbage_bytes_never_raise(self, encode, media_type):
        for junk in (b"", b"\x00", b"PNG\r\n" * 40, bytes(range(256))):
            img, status, err = classify_media(junk, media_type)
            assert status == "quarantined" and img is None
            assert err == "value_error"


class TestPngCodec:
    """The round-15 compressed codec: decode_png must read REAL PNGs,
    not just encode_png's subset — pinned by a foreign-style file
    (level-9 zlib deflate, all five filter types, an ancillary chunk)
    hand-filtered per the spec."""

    def test_roundtrip_and_closed_form_size(self):
        for doc_id in range(25):
            px = _planted_pixels(doc_id)
            payload = encode_png(px)
            h, w, _ = px.shape
            assert len(payload) == 68 + h * (1 + 3 * w)
            assert (decode_png(payload) == px).all()

    def test_multi_block_stored_deflate(self):
        import numpy as np

        big = np.random.default_rng(7).integers(
            0, 256, (200, 150, 3), dtype=np.uint8
        )  # raster > 65535 bytes -> two stored blocks
        assert (decode_png(encode_png(big)) == big).all()

    def test_foreign_encoder_all_filters(self):
        import struct
        import zlib

        import numpy as np

        h, w, bpp = 6, 5, 3
        stride = 3 * w
        img = np.random.default_rng(3).integers(
            0, 256, (h, w, 3), dtype=np.uint8
        )
        rows = img.reshape(h, stride).astype(np.int64)
        filtered = bytearray()
        prev = np.zeros(stride, dtype=np.int64)
        for y in range(h):
            f = y % 5
            cur = rows[y]
            line = np.zeros(stride, dtype=np.int64)
            for x in range(stride):
                left = cur[x - bpp] if x >= bpp else 0
                up = prev[x]
                ul = prev[x - bpp] if x >= bpp else 0
                if f == 0:
                    pred = 0
                elif f == 1:
                    pred = left
                elif f == 2:
                    pred = up
                elif f == 3:
                    pred = (left + up) >> 1
                else:
                    p0 = left + up - ul
                    pa, pb, pc = abs(p0 - left), abs(p0 - up), abs(p0 - ul)
                    pred = (
                        left
                        if (pa <= pb and pa <= pc)
                        else (up if pb <= pc else ul)
                    )
                line[x] = (cur[x] - pred) & 0xFF
            filtered.append(f)
            filtered += bytes(line.astype(np.uint8))
            prev = cur

        def chunk(t, d):
            return (
                struct.pack(">I", len(d))
                + t
                + d
                + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
            )

        png = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"tEXt", b"Comment\x00foreign encoder")
            + chunk(b"IDAT", zlib.compress(bytes(filtered), 9))
            + chunk(b"IEND", b"")
        )
        assert (decode_png(png) == img).all()

    def test_crc_corruption_detected(self):
        payload = bytearray(encode_png(_planted_pixels(7)))
        payload[40] ^= 0xFF  # a byte inside IDAT data
        with pytest.raises(ValueError, match="CRC mismatch"):
            decode_png(bytes(payload))

    def test_formerly_unsupported_shapes_now_in_envelope(self):
        # Round 17 widened the envelope: every spec-legal (depth,
        # color type, interlace) combination DECODES (the positive
        # matrix lives in tests/test_round17_ops.py). A header-only
        # file of any shape is structurally incomplete — no raster —
        # so it must now be a ValueError quarantine, never
        # NotImplementedError.
        import struct
        import zlib

        def chunk(t, d):
            return (
                struct.pack(">I", len(d))
                + t
                + d
                + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
            )

        for depth, ctype, interlace in ((16, 2, 0), (8, 6, 0), (8, 2, 1)):
            png = (
                b"\x89PNG\r\n\x1a\n"
                + chunk(
                    b"IHDR",
                    struct.pack(">IIBBBBB", 4, 3, depth, ctype, 0, 0, interlace),
                )
                + chunk(b"IEND", b"")
            )
            with pytest.raises(ValueError):
                decode_png(png)


def test_mutation_audit_catches_both_directions(tmp_path, monkeypatch):
    """verify_mutations: under-declaration (skip-soundness hole) and
    over-declaration (stale map) both raise; a faithful corpus passes."""
    import pyarrow.parquet as pq

    import degenerate_corpus as deg
    import degenerate_gate as gate

    src = SF_DIR
    good = str(tmp_path / "null_value")
    deg.write_null_column(src, good, "value")
    monkeypatch.setattr(
        gate, "MUTATED_TABLES", {"null_value": frozenset({"events"})}
    )
    dirs = {"null_value": good}
    gate.verify_mutations(src, dirs)  # faithful: no raise

    # under-declaration: mutate a table the map does not declare
    nation = os.path.join(good, "nation.parquet")
    pq.write_table(pq.read_table(nation).slice(0, 3), nation)
    with pytest.raises(RuntimeError, match="UNDECLARED mutation.*nation"):
        gate.verify_mutations(src, dirs)
    pq.write_table(
        pq.read_table(os.path.join(src, "nation.parquet")), nation
    )

    # over-declaration: declared table is byte-faithful to the baseline
    events = os.path.join(good, "events.parquet")
    pq.write_table(
        pq.read_table(os.path.join(src, "events.parquet")), events
    )
    with pytest.raises(RuntimeError, match="content-identical"):
        gate.verify_mutations(src, dirs)


def test_mutation_audit_rejects_label_drift(monkeypatch):
    import degenerate_gate as gate

    with pytest.raises(RuntimeError, match="drift"):
        gate.verify_mutations(SF_DIR, {"bogus": "/tmp/x"})


def test_negated_key_corpus_keeps_x00_total(tmp_path):
    """The round-15 negated-key class: x00's planted classes must stay
    total over negative event_ids (the floored-mod/floored-div
    discipline) — pinned by a direct Spark-vs-DuckDB hash on a negated
    corpus, the shape that caught the 372-row session drift."""
    import degenerate_corpus as deg
    from check_oracle import _check_entry, _oracle_db
    from reddit_data_engineering_project_spark import registry
    from reddit_data_engineering_project_spark.session import get_spark

    registry.load_all_operators()
    out = str(tmp_path / "neg_events")
    deg.write_negate_column(SF_DIR, out, "event_id", "events")
    con = _oracle_db(out)
    try:
        _, problems = _check_entry(
            get_spark(), con, "x00_adversarial_audit", out
        )
    finally:
        con.close()
    assert not problems, "; ".join(problems)
