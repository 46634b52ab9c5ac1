"""Degenerate-cardinality corpora: EMPTY and 1-ROW versions of every
table (r11 verdict item 3).

Every hostile class so far varied VALUES; none varied cardinality to
zero. The package leans on 1-row broadcast anchors
(``crossJoin(F.broadcast(max_ts))``) and ``.first()`` scalar reads that
had never executed against an empty table — empty-anchor semantics
(empty crossJoin vs a NULL-filled row vs ``.first() is None``) differ
per pattern, which is exactly where a green engine can still crash.

The tables are SLICES of a committed corpus dir, so physical schemas
(including the events.ts dtype branch) are byte-faithful; a 1-row
corpus keeps each table's FIRST row, so cross-table joins may
legitimately be empty — the stress is cardinality, not semantics.

Usage:
    python tools/degenerate_corpus.py [--src /root/testdata/sf0.001] \
        [--out-empty /tmp/degcorpus_empty] [--out-one /tmp/degcorpus_one]
    python tools/check_oracle.py --sf /tmp/degcorpus_empty
    python tools/check_oracle.py --sf /tmp/degcorpus_one
"""

from __future__ import annotations

import argparse
import os

import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def write_slices(src: str, out_empty: str, out_one: str) -> None:
    os.makedirs(out_empty, exist_ok=True)
    os.makedirs(out_one, exist_ok=True)
    for name in TABLES:
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        pq.write_table(
            t.slice(0, 0), os.path.join(out_empty, f"{name}.parquet")
        )
        pq.write_table(
            t.slice(0, 1), os.path.join(out_one, f"{name}.parquet")
        )


def write_mixed(src: str, out: str, empty_table: str) -> None:
    """A corpus with ONE table empty and the rest intact — the
    empty-side-of-a-join shape the all-empty corpus can't exhibit
    (there every join input is empty together). ``empty_table`` is the
    table to zero out."""
    os.makedirs(out, exist_ok=True)
    for name in TABLES:
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        if name == empty_table:
            t = t.slice(0, 0)
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))


#: The monoculture document text — long enough to shingle (>= 4 tokens)
#: and multi-line-free; n_chars is kept CONSISTENT with it.
MONO_TEXT = (
    "the same training document repeated verbatim across the entire "
    "corpus is the classic crawl pathology deduplication exists for"
)
MONO_VALUE = 7.25  # in-domain (|v| <= 1e3), exactly representable
MONO_COMPONENT = 0.125  # constant non-zero embedding component


def write_monoculture(src: str, out: str) -> None:
    """ZERO-VARIANCE corpus (round 13): cardinality intact, variance
    zero on every analyzed axis — all documents carry the SAME text
    (n_chars kept consistent), all events the SAME value, all
    embeddings the SAME non-zero vector. Every degenerate class so far
    varied cardinality; none varied DISPERSION to zero, which is where
    the other family of latent edges lives: sigma = 0 z-scores, MAD =
    0 gates, zero-IDF TF-IDF, all-equal rank/percentile ties,
    distance ties in every ANN/kNN ranking, single-bucket LSH, one
    giant dedup cluster. Spark and DuckDB are swept on the SAME
    corpus, so any failure is a real cross-engine divergence or crash,
    not a planted expectation."""
    import pyarrow as pa

    os.makedirs(out, exist_ok=True)
    for name in TABLES:
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        n = t.num_rows
        if name == "documents":
            t = t.set_column(
                t.schema.get_field_index("text"),
                "text",
                pa.array([MONO_TEXT] * n, pa.string()),
            )
            t = t.set_column(
                t.schema.get_field_index("n_chars"),
                "n_chars",
                pa.array([len(MONO_TEXT)] * n, t.schema.field("n_chars").type),
            )
        elif name == "events":
            t = t.set_column(
                t.schema.get_field_index("value"),
                "value",
                pa.array([MONO_VALUE] * n, t.schema.field("value").type),
            )
        elif name == "embeddings":
            dim = len(t["embedding"][0])
            vec = [MONO_COMPONENT] * dim
            t = t.set_column(
                t.schema.get_field_index("embedding"),
                "embedding",
                pa.array([vec] * n, t.schema.field("embedding").type),
            )
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))


#: One in-domain instant (tables.TIME_DOMAINS: [1970, 2999]); NULL ts
#: rows keep their NULLs — a legal data condition in its own right.
FLAT_INSTANT_US = 1_700_000_000_000_000  # 2023-11-14T22:13:20Z


def write_flat_time(src: str, out: str) -> None:
    """FLAT-TIME corpus (round 13, the temporal axis of the
    zero-variance class): every non-NULL ``events.ts`` becomes the SAME
    instant. All windows collapse to one bucket, every session to one
    per user, and — the real target — any window/sort ordered by ``ts``
    WITHOUT a deterministic tiebreak goes nondeterministic on BOTH
    engines at once, which is exactly the divergence the value hash
    catches. Other tables pass through untouched."""
    import pyarrow as pa
    import pyarrow.compute as pc

    os.makedirs(out, exist_ok=True)
    for name in TABLES:
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        if name == "events":
            ts = t["ts"]
            # both physical vintages the canary has seen (us and ns);
            # anything else is a new regeneration to look at, not guess
            unit = ts.type.unit
            if unit not in ("us", "ns"):
                raise ValueError(f"unexpected events.ts unit {unit!r}")
            scale = 1 if unit == "us" else 1000
            flat = pa.array(
                [FLAT_INSTANT_US * scale] * t.num_rows, pa.int64()
            ).cast(pa.timestamp(unit))
            keep_null = pc.is_null(ts)
            t = t.set_column(
                t.schema.get_field_index("ts"),
                "ts",
                pc.if_else(keep_null, pa.nulls(t.num_rows, flat.type), flat),
            )
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))


def write_null_column(
    src: str, out: str, column: str, table: str = "events"
) -> None:
    """ALL-NULL-column corpus (round 13, the NULLITY axis of the
    zero-variance family): every ``<table>.<column>`` becomes NULL —
    legal under the declared contracts (NULL value/ts/user_id/text are
    data conditions, not violations), yet a shape no committed corpus
    exhibits. Its first sweeps caught TWO real bug classes:
    ``x04_data_quality_report`` summed predicate-casts (Spark's
    NULL-skipping sum turns an all-NULL predicate column into a NULL
    report cell where the oracle's CASE..ELSE 0 says 0), and all-NULL
    ``documents.text`` crashed every mapInPandas payload pass
    (len(None)) plus the Arrow TTR UDF (None.split) and exposed
    Spark's legacy ``size(NULL) = -1`` sentinel vs ANSI NULL."""
    import pyarrow as pa

    os.makedirs(out, exist_ok=True)
    for name in TABLES:
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        if name == table:
            idx = t.schema.get_field_index(column)
            t = t.set_column(
                idx, column, pa.nulls(t.num_rows, t.schema.field(column).type)
            )
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))


def write_partial_null(
    src: str,
    out: str,
    column: str,
    table: str,
    pk: str,
    mod: int = 2,
) -> None:
    """HALF-NULL-column corpus (round 14): ``<table>.<column>`` becomes
    NULL on rows where ``pk % mod == 0``, stays intact elsewhere. The
    all-NULL corpora prove crash-freedom but collapse most outputs to
    empty/NULL; the partial corpus exercises the EXCLUSION semantics on
    non-degenerate outputs — present rows must score/group/join exactly
    as if the NULL rows never existed, on both engines (the
    null-embedding finding: vector entries must prune un-embedded rows
    before any dot product, and their oracles mirror with
    ``WHERE embedding IS NOT NULL``)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    os.makedirs(out, exist_ok=True)
    for name in TABLES:
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        if name == table:
            idx = t.schema.get_field_index(column)
            col = t.column(column)
            keys = pc.cast(t.column(pk), pa.int64())
            make_null = pc.equal(
                pc.bit_wise_and(keys, pa.scalar(mod - 1, pa.int64()))
                if mod & (mod - 1) == 0
                else pc.subtract(
                    keys,
                    pc.multiply(
                        pc.divide(keys, pa.scalar(mod, pa.int64())),
                        pa.scalar(mod, pa.int64()),
                    ),
                ),
                pa.scalar(0, pa.int64()),
            )
            t = t.set_column(
                idx,
                column,
                pc.if_else(
                    make_null,
                    pa.nulls(t.num_rows, t.schema.field(column).type),
                    pc.cast(col, t.schema.field(column).type),
                ),
            )
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.001")
    ap.add_argument("--out-empty", default="/tmp/degcorpus_empty")
    ap.add_argument("--out-one", default="/tmp/degcorpus_one")
    ap.add_argument(
        "--monoculture",
        metavar="DIR",
        default=None,
        help="also write the zero-variance corpus to DIR",
    )
    ap.add_argument(
        "--flat-time",
        metavar="DIR",
        default=None,
        help="also write the flat-time corpus (all non-NULL ts equal) to DIR",
    )
    ap.add_argument(
        "--null-column",
        metavar="[TABLE.]COL:DIR",
        action="append",
        default=None,
        help=(
            "also write an all-NULL <TABLE>.<COL> corpus to DIR "
            "(repeatable; TABLE defaults to events, so 'value:DIR' and "
            "'documents.text:DIR' both work — r13 ADVICE: the CLI must "
            "be able to regenerate every corpus the gate builds)"
        ),
    )
    ap.add_argument(
        "--empty-text",
        metavar="DIR",
        default=None,
        help="also write the all-empty-string documents.text corpus to DIR",
    )
    ap.add_argument(
        "--unicode-text",
        metavar="DIR",
        default=None,
        help="also write the unicode-hostile documents.text corpus to DIR",
    )
    ap.add_argument(
        "--whitespace-text",
        metavar="DIR",
        default=None,
        help="also write the all-whitespace documents.text corpus to DIR",
    )
    ap.add_argument(
        "--negate-column",
        metavar="TABLE.COL:DIR",
        action="append",
        default=None,
        help="also write a negated-key corpus (repeatable)",
    )
    ap.add_argument(
        "--offset-column",
        metavar="TABLE.COL:OFFSET:DIR",
        action="append",
        default=None,
        help="also write an offset-key corpus (repeatable)",
    )
    ap.add_argument(
        "--duplicate-rows",
        metavar="TABLE:COPIES:DIR",
        action="append",
        default=None,
        help="also write a duplicated-rows corpus (repeatable; the "
        "table must not declare a primary key)",
    )
    ap.add_argument(
        "--const-column",
        metavar="TABLE.COL:VALUE:DIR",
        action="append",
        default=None,
        help="also write a constant-column corpus (VALUE parsed as int "
        "when possible; repeatable)",
    )
    ap.add_argument(
        "--value-edge",
        metavar="DIR",
        default=None,
        help="also write the events.value ±1e3 domain-edge corpus",
    )
    ap.add_argument(
        "--ts-edge",
        metavar="DIR",
        default=None,
        help="also write the events.ts calendar-envelope-edge corpus",
    )
    ap.add_argument(
        "--hostile-props",
        metavar="DIR",
        default=None,
        help="also write the hostile-JSON events.props corpus",
    )
    ap.add_argument(
        "--dup-key-props",
        metavar="DIR",
        default=None,
        help="also write the duplicate-JSON-key events.props corpus",
    )
    ap.add_argument(
        "--scaled-embeddings",
        metavar="DIR[:FACTOR]",
        default=None,
        help="also write the embedding-magnitude corpus to DIR "
        "(default factor 100, the ARRAY_DOMAINS legal edge region)",
    )
    ap.add_argument(
        "--unknown-lang",
        metavar="DIR",
        default=None,
        help="also write the unknown-lang documents corpus",
    )
    ap.add_argument(
        "--composed",
        metavar="NAME:DIR",
        action="append",
        default=None,
        help=(
            "also write a named COMPOSED-axis corpus (repeatable; "
            "names: " + ", ".join(sorted(COMPOSED)) + ")"
        ),
    )
    ap.add_argument(
        "--mixed",
        metavar="TABLE",
        action="append",
        default=None,
        help=(
            "also write /tmp/degcorpus_no_<TABLE>: that table empty, "
            "the rest intact (repeatable)"
        ),
    )
    args = ap.parse_args()
    write_slices(args.src, args.out_empty, args.out_one)
    for out in (args.out_empty, args.out_one):
        print(f"{out}: {len(TABLES)} tables")
    for t in args.mixed or ():
        out = f"/tmp/degcorpus_no_{t}"
        write_mixed(args.src, out, t)
        print(f"{out}: {t} empty, rest intact")
    if args.monoculture:
        write_monoculture(args.src, args.monoculture)
        print(f"{args.monoculture}: zero-variance corpus")
    if args.flat_time:
        write_flat_time(args.src, args.flat_time)
        print(f"{args.flat_time}: flat-time corpus")
    for spec in args.null_column or ():
        colspec, _, out = spec.partition(":")
        tbl, dot, col = colspec.rpartition(".")
        if not dot:
            tbl, col = "events", colspec
        if tbl not in TABLES:
            ap.error(f"--null-column table {tbl!r} not in {sorted(TABLES)}")
        write_null_column(args.src, out, col, tbl)
        print(f"{out}: all-NULL {tbl}.{col} corpus")
    if args.empty_text:
        write_empty_text(args.src, args.empty_text)
        print(f"{args.empty_text}: all-empty-string text corpus")
    if args.unicode_text:
        write_unicode_text(args.src, args.unicode_text)
        print(f"{args.unicode_text}: unicode-hostile text corpus")
    if args.whitespace_text:
        write_whitespace_text(args.src, args.whitespace_text)
        print(f"{args.whitespace_text}: all-whitespace text corpus")
    for spec in args.negate_column or ():
        colspec, _, out = spec.partition(":")
        tbl, dot, col = colspec.rpartition(".")
        if not dot:
            ap.error("--negate-column needs TABLE.COL:DIR")
        if tbl not in TABLES:
            ap.error(f"--negate-column table {tbl!r} not in {sorted(TABLES)}")
        write_negate_column(args.src, out, col, tbl)
        print(f"{out}: negated {tbl}.{col} corpus")
    for spec in args.offset_column or ():
        colspec, _, rest = spec.partition(":")
        off_s, _, out = rest.partition(":")
        tbl, dot, col = colspec.rpartition(".")
        if not dot or not out:
            ap.error("--offset-column needs TABLE.COL:OFFSET:DIR")
        if tbl not in TABLES:
            ap.error(f"--offset-column table {tbl!r} not in {sorted(TABLES)}")
        write_offset_column(args.src, out, col, tbl, int(off_s))
        print(f"{out}: {tbl}.{col} offset by {off_s} corpus")
    for spec in args.duplicate_rows or ():
        tbl, _, rest = spec.partition(":")
        copies_s, _, out = rest.partition(":")
        if not out:
            ap.error("--duplicate-rows needs TABLE:COPIES:DIR")
        if tbl not in TABLES:
            ap.error(f"--duplicate-rows table {tbl!r} not in {sorted(TABLES)}")
        write_duplicate_rows(args.src, out, tbl, int(copies_s))
        print(f"{out}: {tbl} duplicated x{copies_s} corpus")
    for spec in args.const_column or ():
        colspec, _, rest = spec.partition(":")
        val_s, _, out = rest.partition(":")
        tbl, dot, col = colspec.rpartition(".")
        if not dot or not out:
            ap.error("--const-column needs TABLE.COL:VALUE:DIR")
        if tbl not in TABLES:
            ap.error(f"--const-column table {tbl!r} not in {sorted(TABLES)}")
        try:
            val = int(val_s)
        except ValueError:
            val = val_s
        write_const_column(args.src, out, col, tbl, val)
        print(f"{out}: constant {tbl}.{col}={val!r} corpus")
    if args.value_edge:
        write_value_edge(args.src, args.value_edge)
        print(f"{args.value_edge}: events.value domain-edge corpus")
    if args.ts_edge:
        write_ts_edge(args.src, args.ts_edge)
        print(f"{args.ts_edge}: events.ts calendar-edge corpus")
    if args.hostile_props:
        write_hostile_props(args.src, args.hostile_props)
        print(f"{args.hostile_props}: hostile-JSON props corpus")
    if args.dup_key_props:
        write_dup_key_props(args.src, args.dup_key_props)
        print(f"{args.dup_key_props}: duplicate-JSON-key props corpus")
    if args.scaled_embeddings:
        out, _, fac = args.scaled_embeddings.partition(":")
        write_scaled_embeddings(
            args.src, out, float(fac) if fac else EMB_EDGE_FACTOR
        )
        print(f"{out}: embedding-magnitude corpus (x{fac or EMB_EDGE_FACTOR})")
    if args.unknown_lang:
        write_unknown_lang(args.src, args.unknown_lang)
        print(f"{args.unknown_lang}: unknown-lang corpus")
    for spec in args.composed or ():
        label, _, out = spec.partition(":")
        if label not in COMPOSED or not out:
            ap.error(
                f"--composed needs NAME:DIR with NAME in {sorted(COMPOSED)}"
            )
        write_composed(args.src, out, label)
        print(f"{out}: composed {label} corpus")
    return 0



def write_negate_column(
    src: str, out: str, column: str, table: str
) -> None:
    """NEGATED-key corpus (round 15): every ``<table>.<column>`` value
    becomes its negation — contract-legal (primary keys declare only
    non-null + unique, both preserved by negation) yet a shape no
    committed corpus exhibits, and the one the modulo-discipline
    docstrings call out explicitly: Python/numpy ``%`` is FLOORED
    while Spark's and DuckDB's SQL ``%`` are TRUNCATED, so any
    key-derived bucketing/sampling/planting arithmetic that mixes the
    two silently diverges on the first negative key. Also flips every
    ``ORDER BY key`` tie-break and min/max anchor."""
    import pyarrow.compute as pc

    os.makedirs(out, exist_ok=True)
    for name in TABLES:
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        if name == table:
            idx = t.schema.get_field_index(column)
            t = t.set_column(idx, column, pc.negate(t.column(column)))
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))


def write_offset_column(
    src: str, out: str, column: str, table: str, offset: int
) -> None:
    """OFFSET-key corpus (round 15, the MAGNITUDE axis): every
    ``<table>.<column>`` value shifts by ``offset`` — uniqueness and
    non-nullity preserved, so contract-legal — planting keys near the
    declared envelope edge (e.g. ``2^57`` for documents.doc_id, whose
    pixel-planting math multiplies by 31 and documents ``|doc_id| <
    2^58``). Above ``2^53`` a key no longer round-trips through a
    double, so any engine-side cast-to-double in key arithmetic
    (sampling, hashing, bucketing) silently diverges — exactly the
    class this corpus exists to catch."""
    import pyarrow as pa
    import pyarrow.compute as pc

    os.makedirs(out, exist_ok=True)
    for name in TABLES:
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        if name == table:
            idx = t.schema.get_field_index(column)
            t = t.set_column(
                idx,
                column,
                pc.add(
                    pc.cast(t.column(column), pa.int64()),
                    pa.scalar(offset, pa.int64()),
                ),
            )
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))


def write_empty_text(src: str, out: str) -> None:
    """ALL-EMPTY-STRING text corpus (round 15): every documents.text
    becomes "" (PRESENT but zero-token — the sibling shape to the
    all-NULL text corpus), n_chars kept consistent at 0. Zero-token
    docs make every shingle/token set empty: the near-dup families
    emit the full all-pairs explosion (both engines must agree on the
    empty-set-matches-empty-set convention), TF-IDF/BM25/BPE collapse
    to empty outputs, and every length/entropy stat hits its zero
    edge."""
    import pyarrow as pa

    os.makedirs(out, exist_ok=True)
    for name in TABLES:
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        if name == "documents":
            n = t.num_rows
            idx = t.schema.get_field_index("text")
            t = t.set_column(idx, "text", pa.array([""] * n, pa.string()))
            i2 = t.schema.get_field_index("n_chars")
            t = t.set_column(
                i2, "n_chars", pa.array([0] * n, t.schema.field("n_chars").type)
            )
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))


#: The eight unicode-hostile text shapes, cycled by floored
#: ``doc_id % 8``. Every shape is contract-legal free text; together
#: they cover the axes where engine string stacks classically part
#: ways: astral-plane codepoints (above the BMP — any UTF-16 code-unit
#: counting shows here), ZWJ emoji clusters, combining diacritics
#: (NFD — length vs grapheme confusion), bidi/RTL control marks,
#: locale case traps (Turkish dotless-i, German sharp-s — upper/lower
#: divergence), zero-width and non-breaking spaces (tokenizer \s
#: envelopes), space-free CJK (token-count assumptions), and
#: mathematical alphanumerics (astral letters that ARE \w in some
#: regex engines and not others).
UNICODE_SHAPES = (
    "\U0001f30d astral plane \U0001f680\U0001f9ea payload "
    "\U0001d54a\U0001d554\U0001d552\U0001d55d\U0001d552",
    "famille \U0001f468‍\U0001f469‍\U0001f467‍"
    "\U0001f466 zwj cluster flags \U0001f1fa\U0001f1e6 joined",
    "étudé à la modé combining sȩdille "
    "ñ diacritics stacked ȫ",
    "bidi ‫مرحبا الع"
    "الم‬ mixed שלום rtl runs",
    "İstanbul ıssız STRASSE straße ẞß "
    "ǅungla case traps",
    "zero​width‌joined‍tokens nb space "
    "thin space ideographic　space",
    "训练数据去重是大规模"
    "语料处理的经典问题"
    "日本語テキスト",
    "math \U0001d49c\U0001d4c1\U0001d454\U0001d452\U0001d4b7"
    "\U0001d4c7\U0001d4b6 ops ∑∫∞≠≤ "
    "digits \U0001d7d8\U0001d7d9\U0001d7da\U0001d7db",
)


def write_unicode_text(src: str, out: str) -> None:
    """UNICODE-HOSTILE text corpus (round 16): every ``documents.text``
    becomes one of the eight :data:`UNICODE_SHAPES`, cycled by floored
    ``doc_id % 8``; ``n_chars`` is kept CONSISTENT (codepoint length,
    the corpus convention — Python ``len``, Spark ``length()`` and
    DuckDB ``length()`` all count codepoints). Both engines sweep the
    SAME corpus, so any failure is a real cross-engine divergence in
    the string stack (length/substr vs UTF-16 units, Java vs RE2 regex
    classes, locale-sensitive case mapping, \\s tokenizer envelopes),
    not a planted expectation."""
    import pyarrow as pa

    os.makedirs(out, exist_ok=True)
    for name in TABLES:
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        if name == "documents":
            ids = t.column("doc_id").to_pylist()
            texts = [UNICODE_SHAPES[i % 8] for i in ids]
            t = t.set_column(
                t.schema.get_field_index("text"),
                "text",
                pa.array(texts, pa.string()),
            )
            t = t.set_column(
                t.schema.get_field_index("n_chars"),
                "n_chars",
                pa.array(
                    [len(x) for x in texts],
                    t.schema.field("n_chars").type,
                ),
            )
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))


#: The four whitespace-only text shapes, cycled by floored
#: ``doc_id % 4`` — PRESENT, non-empty (n_chars > 0), yet zero-token.
WHITESPACE_SHAPES = (" ", "\t\t", " \n \t ", "  \r\n  ")


def write_whitespace_text(src: str, out: str) -> None:
    """ALL-WHITESPACE text corpus (round 16): every ``documents.text``
    becomes one of :data:`WHITESPACE_SHAPES` (cycled by floored
    ``doc_id % 4``), ``n_chars`` kept consistent. The third corner of
    the degenerate-text triangle after all-NULL (r13) and
    all-empty-string (r15): text is PRESENT and n_chars is NON-ZERO,
    yet every tokenizer yields zero tokens — the shape that forces
    apart "has characters" and "has content" wherever a quality gate,
    ratio metric, or per-token normalizer divides by one while
    filtering on the other."""
    import pyarrow as pa

    os.makedirs(out, exist_ok=True)
    for name in TABLES:
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        if name == "documents":
            ids = t.column("doc_id").to_pylist()
            texts = [WHITESPACE_SHAPES[i % 4] for i in ids]
            t = t.set_column(
                t.schema.get_field_index("text"),
                "text",
                pa.array(texts, pa.string()),
            )
            t = t.set_column(
                t.schema.get_field_index("n_chars"),
                "n_chars",
                pa.array(
                    [len(x) for x in texts],
                    t.schema.field("n_chars").type,
                ),
            )
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))


def write_duplicate_rows(
    src: str, out: str, table: str, copies: int = 2
) -> None:
    """DUPLICATE-ROW corpus (round 16): every row of ``table`` appears
    ``copies`` times. Contract-legal ONLY for tables with no declared
    primary key (lineitem — tables.PRIMARY_KEYS deliberately omits it:
    full-row duplicates are DATA there, the crawl-reality shape the
    dedup/diff operators exist for). Bag semantics become load-bearing:
    EXCEPT ALL multiplicities, self-join pair counts (co-purchase
    edges quadruple per duplicated order), weighted aggregates, and
    any DISTINCT the plans rely on must agree across engines when
    multiplicity > 1 everywhere."""
    import pyarrow as pa

    os.makedirs(out, exist_ok=True)
    for name in TABLES:
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        if name == table:
            t = pa.concat_tables([t] * copies)
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))


def write_const_column(
    src: str, out: str, column: str, table: str, value
) -> None:
    """CONSTANT-column corpus (round 16, the TOTAL-KEY-SKEW axis):
    every ``<table>.<column>`` becomes the same value — the grouping/
    partitioning key collapses to ONE group holding the entire table.
    Monoculture (r13) zeroed VARIANCE of analyzed values; this zeroes
    the CARDINALITY of a key: every per-user window spans the whole
    corpus, every sessionizer emits one user's stream, every groupBy
    ships all rows to one reducer — the worst-case skew the salting/
    AQE levers exist for, and the shape where any per-group tie-break
    nondeterminism shows at full size."""
    import pyarrow as pa

    os.makedirs(out, exist_ok=True)
    for name in TABLES:
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        if name == table:
            idx = t.schema.get_field_index(column)
            typ = t.schema.field(column).type
            t = t.set_column(
                idx, column, pa.array([value] * t.num_rows, typ)
            )
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))


def write_value_edge(src: str, out: str) -> None:
    """VALUE-DOMAIN-EDGE corpus (round 16): every ``events.value``
    sits EXACTLY on the declared ingest boundary (tables.VALUE_DOMAINS
    = ±1e3), alternating sign by floored ``event_id % 2``. The scaled-
    BIGINT compare discipline documents exactness headroom up to this
    edge ((|v|*1e4)^2 <= 2^53); this corpus makes every quantized
    operator compute AT the boundary instead of comfortably inside it,
    so any op that quietly exceeded its documented headroom (an e6
    scale where e4 was declared, a squared term folded before
    rounding) diverges here first."""
    import pyarrow as pa

    os.makedirs(out, exist_ok=True)
    for name in TABLES:
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        if name == "events":
            ids = t.column("event_id").to_pylist()
            vals = [1000.0 if (i % 2) == 0 else -1000.0 for i in ids]
            idx = t.schema.get_field_index("value")
            t = t.set_column(
                idx, "value", pa.array(vals, t.schema.field("value").type)
            )
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))


#: write_ts_edge target: one week inside the declared TIME_DOMAINS
#: ceiling (2999-12-31 23:59:59), leaving room for window ENDS.
TS_EDGE_TARGET_US = 32_503_075_199_000_000  # 2999-12-24T23:59:59Z


def write_ts_edge(src: str, out: str) -> None:
    """CALENDAR-ENVELOPE-EDGE corpus (round 16): every non-NULL
    ``events.ts`` shifts by one constant so the corpus MAX lands at
    2999-12-24T23:59:59 — the far edge of the declared event-time
    domain (tables.TIME_DOMAINS), where epoch-microsecond arithmetic
    carries its largest magnitudes (~3.25e16 µs) and every
    year/quarter/ISO-week function runs a millennium from the
    fixtures. Relative structure (gaps, sessions, windows) is
    preserved exactly; only the absolute calendar position moves."""
    import pyarrow as pa
    import pyarrow.compute as pc

    os.makedirs(out, exist_ok=True)
    for name in TABLES:
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        if name == "events":
            ts = t.column("ts")
            typ = t.schema.field("ts").type
            us = pc.cast(pc.cast(ts, pa.timestamp("us")), pa.int64())
            max_us = pc.max(us).as_py()
            shifted = pc.add(us, TS_EDGE_TARGET_US - max_us)
            t = t.set_column(
                t.schema.get_field_index("ts"),
                "ts",
                pc.cast(pc.cast(shifted, pa.timestamp("us")), typ),
            )
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))


#: The ten hostile props shapes (round 16), cycled by floored
#: ``event_id % 10`` — every one VALID-or-guardably-invalid JSON text
#: on both engines, aimed at where JSON stacks classically part ways:
#: duplicate keys (first-wins vs last-wins), numbers outside
#: int64/double, deep nesting, top-level non-objects, escaped and
#: astral strings, and the valid/invalid boundary itself.
HOSTILE_PROPS = (
    '{"k": 5}',                                  # plain valid baseline
    '{"j": 1, "k": 3}',                          # multi-key, k present
    '{"k": 123456789012345678901234567890}',     # > int64, > exact double
    '{"k": 1e308, "j": -1e308}',                 # double extremes
    '{"a": {"a": {"a": {"a": {"k": 9}}}}}',      # nesting, $.k absent
    '[1, 2, 3]',                                 # top-level array
    '"just a string"',                           # top-level scalar
    '{ "k" :\t\n 7 , "s": "\\u00e9\\ud83c\\udf0d" }',  # ws + escapes
    '{"k": null, "s": null}',                    # explicit nulls
    '{"k": tru',                                 # truncated: invalid
)


#: The duplicate-key shapes (their own corpus: RFC 8259 leaves
#: duplicate member names UNDEFINED, and the engines genuinely part
#: ways — Jackson (Spark from_json/get_json_object) keeps the LAST
#: occurrence, yyjson (DuckDB json_extract) the FIRST, and Spark's
#: VARIANT parse_json rejects the object outright (NULL through
#: try_variant_get). The equal-value dup shows the engines agreeing
#: whenever the divergence cannot be observed.
DUP_KEY_PROPS = (
    '{"k": 1, "k": 2}',
    '{"k": 7, "k": 7}',
    '{"a": 1, "k": 9, "k": 8, "a": 2}',
)


def write_dup_key_props(src: str, out: str) -> None:
    """DUPLICATE-KEY props corpus (round 16): every ``events.props``
    becomes one of :data:`DUP_KEY_PROPS`, cycled by floored
    ``event_id % 3`` — the one JSON shape where the engines' behavior
    is DOCUMENTED-DIVERGENT by spec (see the constant's note). Kept
    out of :data:`HOSTILE_PROPS` so that corpus must sweep clean while
    this one carries a pinned, explained fail set in the gate."""
    import pyarrow as pa

    os.makedirs(out, exist_ok=True)
    for name in TABLES:
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        if name == "events":
            ids = t.column("event_id").to_pylist()
            vals = [DUP_KEY_PROPS[i % 3] for i in ids]
            idx = t.schema.get_field_index("props")
            t = t.set_column(
                idx, "props", pa.array(vals, t.schema.field("props").type)
            )
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))


def write_hostile_props(src: str, out: str) -> None:
    """HOSTILE-JSON props corpus (round 16): every ``events.props``
    becomes one of :data:`HOSTILE_PROPS`, cycled by floored
    ``event_id % 10``. The props column is free text under the
    declared contracts, yet every committed corpus carries only
    ``{"k": <small int>}`` — none of the shapes where Jackson (Spark)
    and yyjson (DuckDB) classically diverge ever reach the JSON
    operators. Both engines sweep the SAME corpus, so a failure is a
    real cross-engine JSON-semantics divergence, not a planted
    expectation."""
    import pyarrow as pa

    os.makedirs(out, exist_ok=True)
    for name in TABLES:
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        if name == "events":
            ids = t.column("event_id").to_pylist()
            vals = [HOSTILE_PROPS[i % 10] for i in ids]
            idx = t.schema.get_field_index("props")
            t = t.set_column(
                idx, "props", pa.array(vals, t.schema.field("props").type)
            )
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))


#: write_scaled_embeddings factor for the gate's magnitude-edge
#: corpus: baseline components are unit-scale (|x| <= ~0.49), so ×100
#: lands |x| <= ~49 — deep inside the declared ±100 component domain
#: (tables.ARRAY_DOMAINS) yet ~100× beyond anything a real encoder
#: emits, exercising every e6 quantizer near its documented envelope.
EMB_EDGE_FACTOR = 100.0


def write_scaled_embeddings(
    src: str, out: str, factor: float = EMB_EDGE_FACTOR
) -> None:
    """EMBEDDING-MAGNITUDE corpus (round 16): every embedding component
    scaled by ``factor``. The wave that forced the component-magnitude
    domain declaration: FINITE_ARRAYS alone admitted 1e30-scale
    components (finite in float32 up to ~3.4e38) where the e6-quantized
    vector oracles overflow INT64 loudly and Spark's non-ANSI
    double→long cast wraps silently — the silent-divergence class.
    ``tables.ARRAY_DOMAINS`` now fences components to ±100 (the
    k-means distance-sum int64 bound, derivation at the declaration);
    this corpus sweeps the legal edge region, and the contract gate
    rejects anything beyond as an ingest bug."""
    import pyarrow as pa

    os.makedirs(out, exist_ok=True)
    for name in TABLES:
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        if name == "embeddings":
            col = t.column("embedding").to_pylist()
            scaled = [
                None if v is None else [x * factor for x in v] for v in col
            ]
            idx = t.schema.get_field_index("embedding")
            t = t.set_column(
                idx,
                "embedding",
                pa.array(scaled, t.schema.field("embedding").type),
            )
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))


#: The six unknown-lang shapes (round 16), cycled by floored
#: ``doc_id % 6``: codes outside the generator's {en,de,zh,es,fr,...}
#: set, a BCP-47 script subtag, the EMPTY string (present, zero-length
#: — distinct from NULL lang, already swept r14), an UPPERCASE
#: variant of a known code (joins/filters are case-sensitive on both
#: engines — must miss identically), a region-tagged code, and the
#: ISO-639 "undetermined" reserved code.
UNKNOWN_LANGS = ("xx", "zz-Cyrl", "", "EN", "pt-BR", "und")


def write_unknown_lang(src: str, out: str) -> None:
    """UNKNOWN-LANG corpus (round 16): every ``documents.lang`` becomes
    one of :data:`UNKNOWN_LANGS`. lang is a free string under the
    declared contracts, yet every committed corpus draws from the
    generator's known-code set — so every ``lang IN (...)`` filter,
    per-lang stratification key, and en-only payload slice had never
    run against a corpus where NO row matches its expectations. Both
    engines sweep the SAME corpus; the en-sliced x05 entries must
    empty identically, the stratifiers must group the unknown codes as
    opaque keys, and case-sensitive membership must miss 'EN'."""
    import pyarrow as pa

    os.makedirs(out, exist_ok=True)
    for name in TABLES:
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        if name == "documents":
            ids = t.column("doc_id").to_pylist()
            vals = [UNKNOWN_LANGS[i % 6] for i in ids]
            idx = t.schema.get_field_index("lang")
            t = t.set_column(
                idx, "lang", pa.array(vals, t.schema.field("lang").type)
            )
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))


#: COMPOSED-AXIS corpora (round 17, r16 verdict item 3): every gate
#: corpus so far mutates ONE axis; the program's hit rate says bug
#: classes hide at axis JUNCTIONS — both r14's concat_ws and r16's
#: strip-then-lower bugs lived exactly where digest/canonicalization
#: meets a NULL grouping key. Each entry names the single-axis writers
#: applied IN SEQUENCE (first from the committed baseline, the rest
#: over the intermediate corpus), so a composed corpus is definitionally
#: the junction of already-swept axes — any new failure is an
#: interaction bug, not a re-discovery.
COMPOSED: dict[str, tuple] = {
    # unicode-hostile documents.text × all-NULL documents.source: the
    # digest/canonicalization × NULL-key junction named above.
    "unicode_null_source": (
        write_unicode_text,
        lambda s, o: write_null_column(s, o, "source", "documents"),
    ),
    # hostile-JSON events.props × all-NULL events.user_id: extraction
    # lenses × NULL-key grouping (q17 family + every per-user plan).
    "hostile_props_null_user": (
        write_hostile_props,
        lambda s, o: write_null_column(s, o, "user_id", "events"),
    ),
}


def write_composed(src: str, out: str, label: str) -> None:
    """Write the :data:`COMPOSED` corpus ``label``: the first step reads
    the committed baseline at ``src``; each later step re-reads ``out``
    and rewrites it in place (every writer materializes a table fully
    before writing, so in-place is safe)."""
    steps = COMPOSED[label]
    for i, step in enumerate(steps):
        step(src if i == 0 else out, out)


if __name__ == "__main__":
    main()
