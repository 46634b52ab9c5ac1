"""Round-16 behavior pins: the bounded PNG inflate (r15 ADVICE,
medium) and the NULL fall-through in the adversarial CASE helper
(r15 ADVICE, low).

The codec fix closes a resource-exhaustion hole: decode_png handed
untrusted IDAT bytes to an UNBOUNDED zlib.decompress before the
raster-size check, so a crafted high-ratio deflate stream could
allocate gigabytes and OOM an executor — escaping classify_media's
quarantine (which catches ValueError/NotImplementedError, not
MemoryError). IHDR declares the raster size before any inflate runs,
so the bound is known up front.
"""

from __future__ import annotations

import struct
import zlib

import pytest

from reddit_data_engineering_project_spark.operators.multimodal import (
    _PNG_MAX_RASTER,
    _planted_pixels,
    classify_media,
    decode_png,
    encode_png,
)


def _chunk(t: bytes, d: bytes) -> bytes:
    return (
        struct.pack(">I", len(d))
        + t
        + d
        + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
    )


def _png(w: int, h: int, idat: bytes) -> bytes:
    return (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + _chunk(b"IDAT", idat)
        + _chunk(b"IEND", b"")
    )


class TestBoundedInflate:
    def test_deflate_bomb_quarantines_without_materializing(self):
        # 4x4 raster declares 52 bytes; the stream inflates to 64 MiB
        # of zeros (~65000:1). Must raise ValueError after at most
        # expected+1 bytes of output — never allocate the bomb.
        bomb = zlib.compress(bytes(1 << 26), 9)
        assert len(bomb) < 70_000
        png = _png(4, 4, bomb)
        with pytest.raises(ValueError, match="inflates past"):
            decode_png(png)
        img, status, err = classify_media(png, "image/png")
        assert (img, status, err) == (None, "quarantined", "value_error")

    def test_truncated_deflate_stream_is_value_error(self):
        px = _planted_pixels(3)
        payload = bytearray(encode_png(px))
        # encode_png layout: 8 sig + 25 IHDR + IDAT; chop the IDAT
        # data mid-stream and rewrite the chunk around the cut.
        h, w, _ = px.shape
        full = decode_png(bytes(payload))  # sanity: intact decodes
        assert full.shape == (h, w, 3)
        idat_len = struct.unpack(">I", payload[33:37])[0]
        data = bytes(payload[41 : 41 + idat_len])[: idat_len // 2]
        png = (
            bytes(payload[:33])
            + _chunk(b"IDAT", data)
            + _chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="incomplete deflate"):
            decode_png(png)

    def test_trailing_bytes_after_stream_end_rejected(self):
        px = _planted_pixels(5)
        h, w, _ = px.shape
        stride = 3 * w
        raw = b"".join(
            b"\x00" + px[y].tobytes() for y in range(h)
        )
        assert len(raw) == h * (1 + stride)
        png = _png(w, h, zlib.compress(raw) + b"JUNKJUNK")
        with pytest.raises(ValueError, match="trailing bytes"):
            decode_png(png)

    def test_oversized_ihdr_dimensions_are_unsupported(self):
        # A hostile IHDR declaring a raster past the 64 MiB envelope
        # quarantines as "unsupported" before any inflate attempt.
        w = h = 1 << 16  # raster = h*(1+3w) ≈ 12.9 GiB
        assert h * (1 + 3 * w) > _PNG_MAX_RASTER
        png = _png(w, h, zlib.compress(b"\x00"))
        with pytest.raises(NotImplementedError, match="decode envelope"):
            decode_png(png)
        img, status, err = classify_media(png, "image/png")
        assert (img, status, err) == (None, "quarantined", "unsupported")

    def test_exact_size_roundtrip_still_green(self):
        for doc_id in (0, 7, 24):
            px = _planted_pixels(doc_id)
            assert (decode_png(encode_png(px)) == px).all()


def test_case_over_bucket_null_on_out_of_range():
    """_case_over_bucket now structurally matches the mirrored SQL
    CASE (no ELSE): an out-of-range bucket yields NULL, not the last
    arm — a future unguarded caller diverges loudly in the oracle
    compare instead of silently landing on values[-1]."""
    from pyspark.sql import functions as F

    from reddit_data_engineering_project_spark.operators.adversarial import (
        _case_over_bucket,
    )
    from reddit_data_engineering_project_spark.session import get_spark

    spark = get_spark()
    df = spark.range(6).select(
        (F.col("id") - 1).alias("bucket")
    )  # buckets -1..4 over a 3-arm CASE
    out = (
        df.select(
            "bucket",
            _case_over_bucket(F.col("bucket"), ["a", "b", "c"]).alias("v"),
        )
        .orderBy("bucket")
        .collect()
    )
    assert [r.v for r in out] == [None, "a", "b", "c", None, None]


def _spark_vs_oracle(tmp_corpus: str, name: str):
    import sys, os
    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    from check_oracle import _check_entry, _oracle_db
    from reddit_data_engineering_project_spark import registry
    from reddit_data_engineering_project_spark.session import get_spark

    registry.load_all_operators()
    con = _oracle_db(tmp_corpus)
    try:
        _, problems = _check_entry(get_spark(), con, name, tmp_corpus)
    finally:
        con.close()
    assert not problems, (
        f"{name}: diverges on the hostile corpus: {'; '.join(problems)}"
    )


class TestUnicodeWave:
    """Round-16 tenth hostile wave: the two first-sweep divergences the
    unicode corpus caught, value-pinned on the exact corpus shape."""

    @pytest.fixture(scope="class")
    def unicorpus(self, tmp_path_factory):
        import sys, os
        sys.path.insert(
            0,
            os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"),
        )
        import degenerate_corpus as deg
        from conftest import SF_DIR

        out = str(tmp_path_factory.mktemp("uni") / "corpus")
        deg.write_unicode_text(SF_DIR, out)
        return out

    def test_canonicalized_dedup_strip_before_lower(self, unicorpus):
        # Java lower('İ') = "i"+U+0307 vs DuckDB's 1:1 "i": the old
        # lower-then-strip canon diverged here; strip-then-lower is
        # engine-portable.
        _spark_vs_oracle(unicorpus, "x01_dedup_canonicalized")

    def test_binary_features_header_is_bytes(self, unicorpus):
        # The header pin is the first four BYTES on both sides — the
        # old substr(text,1,4) oracle took four CHARS and diverged on
        # any multi-byte 'en' row.
        _spark_vs_oracle(unicorpus, "x05_binary_features")

    def test_readability_vowel_class_portable(self, unicorpus):
        _spark_vs_oracle(unicorpus, "x04_readability")

    def test_lower_divergence_is_real(self):
        # The mechanism the fixes dodge, pinned so it can't silently
        # change under an engine upgrade: Python/Java expand U+0130,
        # DuckDB maps it 1:1.
        import duckdb

        duck = duckdb.connect().execute("select lower('İ')").fetchone()[0]
        assert duck == "i"
        assert "İ".lower() == "i̇"


def test_whitespace_corpus_token_vs_char_split(tmp_path):
    """Eleventh wave pin: all-whitespace text is PRESENT with
    n_chars > 0 yet yields zero tokens — the quality/profile entries
    must agree cross-engine on that split."""
    import sys, os
    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    import degenerate_corpus as deg
    from conftest import SF_DIR

    out = str(tmp_path / "ws")
    deg.write_whitespace_text(SF_DIR, out)
    for name in ("x04_token_count", "x04_data_quality_report"):
        _spark_vs_oracle(out, name)


def test_duplicate_lineitem_bag_semantics(tmp_path):
    """Twelfth wave pin: full-row lineitem duplicates (contract-legal —
    no declared PK) double every edge; pair counts and weighted
    aggregates must agree cross-engine at multiplicity 2."""
    import sys, os
    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    import degenerate_corpus as deg
    from conftest import SF_DIR

    out = str(tmp_path / "dup")
    deg.write_duplicate_rows(SF_DIR, out, "lineitem", 2)
    for name in ("q21_copurchase_lift", "q21_triangle_count"):
        _spark_vs_oracle(out, name)


def test_payload_energy_halfup_landing():
    """The r16 Arrow rework's one float op must round HALF_UP like
    F.round/DuckDB round — np.round (half-to-even) would emit 62 on
    the exact landing energy=1, n_samples=256 -> rms 62.5. Driven
    straight through the batch kernel with raw payload bytes."""
    import pandas as pd

    from reddit_data_engineering_project_spark.operators.multimodal import (
        _payload_energy_frames,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            # doc 1: one full frame, energy 1 -> rms exactly 62.5
            # doc 2: empty payload -> zero frames on both engines
            "payload": [bytes([128] * 255 + [129]), b""],
        }
    )
    out = pd.concat(list(_payload_energy_frames(iter([pdf]))))
    assert out["doc_id"].tolist() == [1]
    assert out["n_samples"].tolist() == [256]
    assert out["energy"].tolist() == [1]
    assert out["rms_e3"].tolist() == [63]  # HALF_UP, not banker's 62


def test_ts_edge_corpus_stateful_replays_total(tmp_path):
    """Fifteenth wave pin — the pandas ns cliff: year-2999 event times
    (contract-legal, TIME_DOMAINS) crashed every pandas-boundary
    stateful entry before the r16 µs-boundary rework (Arrow->pandas
    hard-casts timestamp[us] to ns, overflowing past 2262-04-11).
    The replay entries must now hash-match their oracles at the
    calendar envelope edge."""
    import sys, os
    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    import degenerate_corpus as deg
    from conftest import SF_DIR

    out = str(tmp_path / "edge")
    deg.write_ts_edge(SF_DIR, out)
    for name in (
        "s08_stateful_zscore_replay",
        "s09_session_gap_replay",
        "s09_session_timeout_replay",
    ):
        _spark_vs_oracle(out, name)


def test_value_edge_and_one_user_sample_entries(tmp_path):
    """Thirteenth/fourteenth wave pins: total user-skew and the ±1e3
    value-domain edge hold on representative quantized/windowed
    entries."""
    import sys, os
    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    import degenerate_corpus as deg
    from conftest import SF_DIR

    ve = str(tmp_path / "ve")
    deg.write_value_edge(SF_DIR, ve)
    for name in ("q22_rolling_zscore", "s08_stateful_zscore_replay"):
        _spark_vs_oracle(ve, name)

    ou = str(tmp_path / "ou")
    deg.write_const_column(SF_DIR, ou, "user_id", "events", 0)
    for name in ("q21_sessionize_gap", "s09_session_gap_replay"):
        _spark_vs_oracle(ou, name)


def test_hostile_props_overflow_guard(tmp_path):
    """Sixteenth wave pin: numbers beyond int64 in events.props must
    NULL-then-default on BOTH engines (the old oracle's plain
    CAST(huge double AS BIGINT) raised in DuckDB where Spark's
    non-ANSI string->long cast yields NULL)."""
    import sys, os
    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    import degenerate_corpus as deg
    from conftest import SF_DIR

    out = str(tmp_path / "hp")
    deg.write_hostile_props(SF_DIR, out)
    for name in ("pipeline_clean_coerce", "q17_map_funcs", "q17_json_funcs"):
        _spark_vs_oracle(out, name)


def test_dup_key_divergence_is_real_and_bounded(tmp_path):
    """Seventeenth wave pin: duplicate JSON keys are RFC-undefined and
    the engines genuinely part ways — Spark from_json STRUCT keeps the
    LAST 'k', DuckDB json_extract the FIRST, Spark VARIANT rejects the
    object. Pinned here at the mechanism level so the accepted
    gate fail set {q17_json_funcs, q17_variant_shred} can't silently
    change meaning under an engine upgrade; equal-value duplicates and
    the MAP path (first-wins on both) must keep agreeing."""
    import duckdb

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from reddit_data_engineering_project_spark.session import get_spark

    spark = get_spark()
    dup = '{"k": 1, "k": 2}'
    row = (
        spark.range(1)
        .select(
            F.from_json(
                F.lit(dup), StructType([StructField("k", LongType())])
            )["k"].alias("struct_k"),
            F.try_variant_get(
                F.try_parse_json(F.lit(dup)), "$.k", "long"
            ).alias("variant_k"),
            F.from_json(F.lit(dup), "map<string,bigint>")["k"].alias(
                "map_k"
            ),
        )
        .collect()[0]
    )
    assert row.struct_k == 2  # Jackson: last wins
    # VARIANT rejects duplicate keys: try_parse_json -> NULL (strict
    # parse_json raises VARIANT_DUPLICATE_KEY, which is why the entry
    # uses the total try_ form)
    assert row.variant_k is None
    duck = duckdb.connect().execute(
        "select json_extract_string(?, '$.k')", [dup]
    ).fetchone()[0]
    assert duck == "1"  # yyjson: first wins
    assert row.map_k == 1  # from_json MAP: first wins, agrees with duck


def test_embedding_component_domain(tmp_path):
    """Eighteenth wave pin — the component-magnitude envelope: the
    contract REJECTS out-of-domain components (where the e6-quantized
    oracles overflow int64 loudly and Spark's non-ANSI double->long
    cast would wrap silently), and the legal edge region (x100 of
    baseline) stays hash-exact on the tightest quantized entries."""
    import sys, os
    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    import degenerate_corpus as deg
    from conftest import SF_DIR
    from reddit_data_engineering_project_spark.session import get_spark
    from reddit_data_engineering_project_spark.tables import (
        check_ingest_contracts,
    )

    spark = get_spark()
    # beyond the domain: contract gate rejects as an ingest bug
    hot = str(tmp_path / "hot")
    deg.write_scaled_embeddings(SF_DIR, hot, factor=1e4)  # |x| ~ 5e3 > 100
    import pytest as _pytest

    with _pytest.raises(ValueError, match="contract"):
        check_ingest_contracts(spark, hot, tables=("embeddings",))

    # the legal edge region: exact on the tightest quantized entries
    edge = str(tmp_path / "edge")
    deg.write_scaled_embeddings(SF_DIR, edge)
    for name in ("x03_kmeans_step", "x03_pairwise_label_centroids"):
        _spark_vs_oracle(edge, name)


def test_huge_user_id_and_unknown_lang_pins(tmp_path):
    """Nineteenth/twentieth wave pins: 2^57-scale user ids stay
    integer-exact through the stateful fold + md5 sample, and an
    all-unknown-lang corpus empties the en-sliced entries identically
    on both engines (case-sensitive membership misses 'EN')."""
    import sys, os
    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    import degenerate_corpus as deg
    from conftest import SF_DIR

    hu = str(tmp_path / "hu")
    deg.write_offset_column(
        SF_DIR, hu, "user_id", "events", (1 << 57) - (1 << 20)
    )
    for name in ("s09_session_gap_replay", "q21_sessionize_gap"):
        _spark_vs_oracle(hu, name)

    ul = str(tmp_path / "ul")
    deg.write_unknown_lang(SF_DIR, ul)
    for name in ("x05_binary_features", "x04_stratified_sample"):
        _spark_vs_oracle(ul, name)
