"""Deduplication operators (north star X1/X2).

The reference claims upsert-dedup as a capability (reference
``README.md:13``); a training-data pipeline needs the full ladder:

- X1 exact dedup by key and by content hash (``sha2``) — hash-groupBy,
  one shuffle on the hash, survivor = min key (deterministic).
- X2 near-dup detection:
  - exact shingle-Jaccard via a sparse inverted-index join (the
    verification stage of any LSH pipeline, and itself scale-sane when
    shingle cardinality is high);
  - MinHash + banded LSH — the 100 TB path: per-doc signature of K
    min-hashes, banded into B buckets, candidate pairs only within
    buckets, then exact-Jaccard verification of candidates. No all-pairs
    product anywhere.

The corpus has no pre-planted EXACT duplicates, so X1 queries construct a
duplicate-laden input (base ∪ re-ingested copy with offset keys) — which
is precisely the reference's re-run scenario. Near-dups ARE planted
(25 pairs with 4-shingle Jaccard ≥ 0.8; all other pairs < 0.2).

Scale notes:
- Shingle join cost is Σ_s df(s)² over shingle doc-frequencies; 4-word
  shingles on natural text are near-unique, so df ≈ 1 and the join is
  linear. Single-word tokens would degenerate (df ≈ |docs|) — that is why
  X2 shingles, never raw tokens.
- MinHash signatures are fixed-size (K longs) regardless of doc length:
  the candidate-generation shuffle moves |docs|·B tiny rows, not text.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.numeric import dround
from ..registry import register
from ..tables import ensure_min_parallelism, table
from .curation import _split_bucket_sql, _split_sql, split_of

#: MinHash parameters: K hashes, banded B bands × R rows (K = B*R).
#: Universal-hash coefficients drawn once from a fixed seed so every run
#: (and the driver's re-run) sees identical signatures.
_P = (1 << 31) - 1  # Mersenne prime 2^31-1
_K, _B, _R = 16, 8, 2
_rng = random.Random(42)
_AB: list[tuple[int, int]] = [
    (_rng.randrange(1, _P), _rng.randrange(0, _P)) for _ in range(_K)
]


def shingles(
    docs: DataFrame, n: int = 4, distinct: bool = True, widen: bool = True
) -> DataFrame:
    """n-word shingles per document: (doc_id, shingle).

    Sliding window over the token array via ``transform`` on an index
    sequence — pure JVM, no Python. Documents shorter than ``n`` tokens
    yield their whole text as the single shingle.

    ``distinct=True`` (the Jaccard-set form) costs a shuffle to dedupe;
    signature builders that are duplicate-insensitive (MinHash minima)
    or duplicate-weighted by design (SimHash votes) pass ``False`` and
    skip that shuffle entirely — their aggregate is then the FIRST
    shuffle the query pays.

    Window enumeration is ``arrays_zip`` of ``n`` shifted slices of the
    token array (r18, guide §4.1): the zipped struct array is built once
    per DOC by array-level codegen'd expressions, ``explode`` is a
    codegen'd Generate, and the per-shingle join is a codegen'd
    ``concat_ws`` projection ABOVE the generate — nothing interpreted
    anywhere. The prior form (``transform`` over an index sequence with
    an ``array_join(slice(...))`` lambda) ran the lambda INTERPRETED per
    window position, and shingling sits under every near-dup entry. Edge
    semantics are preserved exactly: a doc shorter than ``n`` tokens
    zips slices shorter than the window, and ``concat_ws`` skipping the
    NULL tail yields the whole text as the single shingle — the same
    row the old slice-clamp produced; NULL text yields one NULL-shingle
    row via ``explode_outer`` + the explicit NULL guard (the all-NULL
    degenerate corpus pins this).

    Shingling is still the CPU-heaviest scan stage, so it must not be
    narrower than the machine: ``ensure_min_parallelism`` redistributes
    a too-narrow scan first and is a no-op on the 100 TB path. Callers
    whose input already passed a shuffle (a join or repartition) MUST
    pass ``widen=False``: they are already parallel, and probing
    partition counts there would execute the upstream DAG at plan time
    (see ``ensure_min_parallelism``).
    """
    if widen:
        docs = ensure_min_parallelism(docs)
    toks = F.split(F.col("text"), " ")
    # size-n+1 full windows for long docs, clamped to one window for
    # docs shorter than n tokens (slices past the end come out short and
    # concat_ws skips the NULL padding arrays_zip adds).
    m = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    zipped = F.arrays_zip(
        *[F.slice(toks, j + 1, m).alias(f"w{j}") for j in range(n)]
    )
    exploded = docs.select("doc_id", F.explode_outer(zipped).alias("__sh"))
    shingle = F.when(
        F.col("__sh").isNull(), F.lit(None).cast("string")
    ).otherwise(F.concat_ws("_", *[f"__sh.w{j}" for j in range(n)]))
    exploded = exploded.select("doc_id", shingle.alias("shingle"))
    return exploded.dropDuplicates(["doc_id", "shingle"]) if distinct else exploded


#: Exact-Jaccard threshold of every verified near-dup pair set (the
#: oracles spell the same ``>= 0.6``).
_JACCARD_MIN = 0.6


def _shingle_overlap(sh: DataFrame) -> DataFrame:
    """Sparse inverted-index overlap of a DISTINCT ``(doc_id, shingle)``
    stream: ``(doc_a, doc_b, inter, n_a, n_b)`` for every pair
    ``doc_a < doc_b`` that shares a shingle, with ``inter`` = |A∩B| and
    ``n_a`` / ``n_b`` the per-doc distinct-shingle counts.

    |A∩B| comes from the self-join on shingle (only docs sharing a
    shingle ever meet — never all-pairs), the sizes from a per-doc count
    over the same stream. Callers add only their own filter and
    projection (Jaccard |A∩B|/(|A|+|B|-|A∩B|), containment |A∩B|/|A|).
    Three plan branches read ``sh`` (both join sides + the counts), so
    callers pass it persisted. :data:`_OVERLAP_SQL` is the oracle twin.
    """
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    ca = counts.alias("ca")
    cb = counts.alias("cb")
    return (
        inter.join(ca, F.col("doc_a") == F.col("ca.doc_id"))
        .join(cb, F.col("doc_b") == F.col("cb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            "inter",
            F.col("ca.n").alias("n_a"),
            F.col("cb.n").alias("n_b"),
        )
    )


#: DuckDB twin of :func:`shingles` (n=4, distinct) + :func:`_shingle_overlap`:
#: the leading CTEs of every shingle-overlap oracle, ending in
#: ``overlap(doc_a, doc_b, inter, n_a, n_b)``. Oracles compose it by
#: f-string and keep their own filter and final SELECT. SQL text only —
#: no oracle shares code with the engine it checks.
_OVERLAP_SQL = """toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               -- list slice (not positional ||) so docs shorter than 4
               -- tokens yield their whole text, matching shingles()
               array_to_string(w[gs.i:gs.i+3], '_') AS shingle
        FROM toks CROSS JOIN LATERAL (
            SELECT unnest(range(1, greatest(len(w) - 2, 2))) AS i
        ) gs
    ),
    counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    overlap AS (
        SELECT doc_a, doc_b, inter, ca.n AS n_a, cb.n AS n_b
        FROM pairs
        JOIN counts ca ON doc_a = ca.doc_id
        JOIN counts cb ON doc_b = cb.doc_id
    )"""


@register(
    "x01_dedup_exact_key",
    oracle="""
    WITH ingested AS (
        SELECT doc_id, text, lang FROM documents
        UNION ALL
        SELECT doc_id, text, lang FROM documents   -- verbatim re-run
    )
    SELECT doc_id, text, lang
    FROM ingested
    QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY doc_id) = 1
    """,
    tags=("dedup", "X1"),
)
def x01_dedup_exact_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1a: key dedup — a verbatim re-run collapses back to one row per key.

    ``dropDuplicates(['doc_id'])`` compiles to a hash aggregate on the
    key; rows are identical per key so no ordering is needed.
    """
    docs = table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    return docs.unionByName(docs).dropDuplicates(["doc_id"])


@register(
    "x01_dedup_content_hash",
    oracle="""
    WITH ingested AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM documents
    )
    SELECT
        min(doc_id) AS canonical_doc_id,
        count(*) AS n_copies,
        min(length(text)) AS text_len
    FROM ingested
    GROUP BY text
    """,
    tags=("dedup", "X1"),
)
def x01_dedup_content_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1b: content-hash dedup — same text under different keys collapses.

    Groups on ``sha2(text, 256)`` so the shuffle key is 32 bytes instead
    of the full document — at 100 TB the exchange moves hashes, not text.
    (The oracle groups by raw text: identical equivalence classes.)
    """
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    ingested = docs.unionByName(
        docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    return (
        ingested.groupBy(F.sha2(F.col("text"), 256).alias("__h"))
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_copies"),
            F.min(F.length("text")).alias("text_len"),
        )
        .drop("__h")
    )


@register(
    "x02_neardup_jaccard",
    oracle=f"""
    WITH {_OVERLAP_SQL}
    SELECT
        doc_a,
        doc_b,
        round(inter::DOUBLE / (n_a + n_b - inter) * 1000000.0) / 1000000.0
            AS jaccard
    FROM overlap
    WHERE inter::DOUBLE / (n_a + n_b - inter) >= 0.6
    """,
    tags=("dedup", "X2"),
)
def x02_neardup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2a: exact near-dup pairs via inverted-index shingle join.

    |A∩B| and the per-doc sizes come from :func:`_shingle_overlap`;
    |A∪B| = |A|+|B|-|A∩B|. Finds the 25 planted near-dup pairs at
    J ≥ 0.6. The same overlap kernel is the verification stage the LSH
    variants run (:func:`_verify_jaccard`).
    """
    # Persist the shingle stream once (r17 opt): three plan branches
    # read it (both inverted-index join sides + the size counts) and
    # the planner broadcasts one join side, so without the cache the
    # scan→shingle→dedupe DAG executes three times, serially. Same
    # lifecycle as _verify_jaccard's caches; at 100 TB this entry IS
    # the full-corpus verifier by design, and the materialized distinct
    # shingle stream is its canonical intermediate (production would
    # checkpoint it).
    sh = shingles(table(spark, sf_dir, "documents")).persist()
    jac = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        _shingle_overlap(sh)
        .filter(jac >= _JACCARD_MIN)
        .select("doc_a", "doc_b", dround(jac, 6).alias("jaccard"))
    )


def _simhash_signatures_over(sh: DataFrame) -> DataFrame:
    """Per-doc 64-bit SimHash packed-lane aggregate over a DISTINCT
    ``(doc_id, shingle)`` stream: ``doc_id``, ``n_shingles``
    (overflow-guarded), ``p0..p15``.

    Each distinct shingle votes ±1 on every one of 64 bit positions
    (weight = the shingle hash's bit); the signature is the sign
    vector. The 64 per-bit counters are PACKED four to a long (16-bit
    lanes): 16 sum columns instead of 64 quarters the generated
    aggregate code, which measured 3.5× off the first-run JIT compile
    and 1.7× off the warm aggregate at sf0.1 versus the unpacked form
    (round-3 A/B; majority bits bit-identical). Lanes never interact
    because a lane's value is the count of distinct shingles voting 1
    on that bit, bounded by the doc's distinct-shingle count — guard
    that bound explicitly: at 2^16 distinct shingles per doc (≈ half a
    megabyte of unique words) a lane could carry into its neighbor, so
    such docs must be rejected loudly rather than silently mis-signed.
    (A document-local higher-order-function fold was also tried and is
    ~3× slower than either form: HOF lambdas run interpreted, outside
    whole-stage codegen.)
    """
    h = F.xxhash64(F.col("shingle"))
    packed = []
    for k in range(16):
        lanes = F.lit(0).cast("long")
        for m in range(4):
            lanes = lanes + F.shiftleft(
                F.shiftright(h, 4 * k + m).bitwiseAND(F.lit(1)), 16 * m
            )
        packed.append(F.sum(lanes).alias(f"p{k}"))
    sig = sh.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"), *packed
    )
    # Refuse to emit a signature whose lane arithmetic could have
    # overflowed — wrong signatures would silently miss near-dups.
    return sig.withColumn(
        "n_shingles",
        F.when(F.col("n_shingles") < F.lit(1 << 16), F.col("n_shingles"))
        .otherwise(
            F.raise_error(
                F.format_string(
                    "simhash lane overflow: doc %s has %s distinct "
                    "shingles; the packed-lane signature supports at "
                    "most 65535 per document, so it is rejected",
                    F.col("doc_id").cast("string"),
                    F.col("n_shingles").cast("string"),
                )
            ).cast("long")
        ),
    )


def _simhash_buckets(sig: DataFrame, band_bits: int) -> DataFrame:
    """Band-bucket rows from packed-lane signatures: ``doc_id``,
    ``sig64`` (the full signature for the Hamming pre-filter),
    ``band_id``, ``band_val`` — ``64 / band_bits`` bands of
    ``band_bits`` majority bits each."""
    if 64 % band_bits != 0:
        # argument validation, not an internal invariant: must survive
        # ``python -O`` (r10 advice)
        raise ValueError(f"band_bits must divide 64, got {band_bits}")

    def bit(j: int):
        # Majority vote for bit j: ones*2 >= n (ties round to 1, same
        # as the signed-vote formulation's `sum(±1) >= 0`).
        ones = F.shiftright(F.col(f"p{j // 4}"), 16 * (j % 4)).bitwiseAND(
            F.lit(0xFFFF)
        )
        return (ones * 2 - F.col("n_shingles") >= 0).cast("long")

    band_cols = []
    sig64 = F.lit(0).cast("long")
    for band in range(64 // band_bits):
        val = F.lit(0).cast("long")
        for j in range(band_bits):
            val = val + F.shiftleft(bit(band * band_bits + j), j)
        band_cols.append(
            F.struct(F.lit(band).alias("band_id"), val.alias("band_val"))
        )
        sig64 = sig64 + F.shiftleft(val, band * band_bits)
    return sig.select(
        "doc_id",
        sig64.alias("sig64"),
        F.explode(F.array(*band_cols)).alias("bb"),
    ).select("doc_id", "sig64", "bb.band_id", "bb.band_val")


def _probe_masks(band_bits: int, radius: int) -> list[int]:
    """All XOR masks of Hamming weight ≤ ``radius`` over ``band_bits``
    bits, ascending weight — 9 masks for (8,1), 697 for (16,3)."""
    from itertools import combinations

    return [
        sum(1 << j for j in bits)
        for r in range(radius + 1)
        for bits in combinations(range(band_bits), r)
    ]


def _simhash_candidates(
    sh: DataFrame,
    band_bits: int,
    radius: int,
    max_hamming: int | None = 15,
) -> DataFrame:
    """SimHash candidate pairs over a DISTINCT ``(doc_id, shingle)``
    stream (:func:`shingles`) via pigeonhole banding with in-band
    multi-probe: two signatures within Hamming distance
    ``(radius + 1) * n_bands - 1`` must have SOME band at distance
    ≤ ``radius``, so the equi-join on (band, probed_value) captures
    them. Probing multiplies the PROBE streams by |masks| — never the
    candidate space — and the ``max_hamming`` popcount pre-filter on
    the XOR of full signatures kills random band collisions (expected
    distance ≈ 32) before the expensive content verification.

    The probe radius is SPLIT across the two join sides —
    ``ceil(radius/2)`` on the left, the rest on the right: a band
    difference of weight ≤ radius always decomposes into two disjoint
    masks of those weights (XOR of the probed values then meets in the
    middle), so capture is identical to one-sided radius-``radius``
    probing while the exploded row volume drops from |ball(radius)|
    per bucket row to |ball(⌈r/2⌉)| + |ball(⌊r/2⌋)| — at (16, 3) that
    is (137 + 17) vs (697 + 1) per bucket row, 4.5× less generate +
    join input. For radius ≤ 1 the split degenerates to the classic
    probe-vs-exact form. The masks ride as ONE literal array column
    exploded per bucket row (a single codegen'd generate + one XOR per
    probe row); building |masks| separate XOR expressions instead
    blows up whole-stage codegen at 137+ masks.
    """
    n_bands = 64 // band_bits
    # max_hamming=None skips the popcount pre-filter and exposes the raw
    # banding collision stream (tests measure it; production always
    # filters).
    if max_hamming is not None and (radius + 1) * n_bands - 1 < max_hamming:
        # argument validation, not an internal invariant: must survive
        # ``python -O`` (r10 advice) — a silently weaker banding
        # guarantee would MISS pairs inside max_hamming
        raise ValueError(
            "banding guarantee weaker than the Hamming pre-filter: "
            f"(radius={radius}+1)*{n_bands} bands - 1 < "
            f"max_hamming={max_hamming}; pairs inside max_hamming could "
            "be missed"
        )
    # Persist the bucket stream once (r17 opt): the probe split makes the
    # two join branches non-identical ABOVE the buckets, so exchange
    # reuse never fires on the shared signature DAG below them — and the
    # planner broadcasts one probe side, which executes the full
    # shingle+signature aggregate TWICE, sequentially (broadcast build
    # first, stream side second). Persisting the 8·|docs|-row narrow
    # bucket relation computes the signature DAG once: measured 5.0 s →
    # 1.4 s for candidate generation at sf0.1 (both band widths). Guide
    # §5 persist rule; lifecycle identical to _verify_jaccard's caches.
    buckets = _simhash_buckets(_simhash_signatures_over(sh), band_bits).persist()
    r_l = (radius + 1) // 2
    r_r = radius - r_l

    def probe(side: DataFrame, r: int) -> DataFrame:
        if r == 0:
            return side
        return side.select(
            "doc_id",
            "sig64",
            "band_id",
            "band_val",
            F.explode(F.lit(_probe_masks(band_bits, r))).alias("mask"),
        ).select(
            "doc_id",
            "sig64",
            "band_id",
            F.col("band_val").bitwiseXOR(F.col("mask")).alias("band_val"),
        )

    lhs = probe(buckets, r_l).alias("l")
    rhs = probe(buckets, r_r).alias("r")
    joined = lhs.join(
        rhs,
        (F.col("l.band_id") == F.col("r.band_id"))
        & (F.col("l.band_val") == F.col("r.band_val"))
        & (F.col("l.doc_id") < F.col("r.doc_id")),
    )
    if max_hamming is not None:
        joined = joined.filter(
            F.bit_count(F.col("l.sig64").bitwiseXOR(F.col("r.sig64")))
            <= max_hamming
        )
    return (
        joined.select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
        )
        .dropDuplicates()
    )


def _simhash_pairs_over(
    docs: DataFrame, band_bits: int, radius: int
) -> DataFrame:
    """SimHash near-dup pairs over an arbitrary ``(doc_id, text)``
    corpus — the body both SimHash entries share (they differ only in
    ``(band_bits, radius)``) and the counterpart of
    :func:`minhash_pairs_over` (``tools/scale_curve.py`` times it).

    One persisted distinct-shingle relation feeds BOTH the signature
    aggregate and the exact-Jaccard verify (r18): one corpus
    scan+tokenize per query, not two.
    """
    sh = shingles(docs).persist()
    return _verify_jaccard(
        docs,
        _simhash_candidates(sh, band_bits, radius),
        sh_stream=sh,
        sh_stream_distinct=True,
    )


@register(
    "x02_simhash_neardup",
    oracle=f"""
    WITH {_OVERLAP_SQL}
    SELECT doc_a, doc_b
    FROM overlap
    WHERE inter::DOUBLE / (n_a + n_b - inter) >= 0.6
    """,
    tags=("dedup", "X2", "simhash"),
)
def x02_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2c: SimHash near-dup — 64-bit sign-of-weighted-bits fingerprint.

    Per doc: each shingle votes ±1 on every one of 64 bit positions
    (weight = the shingle hash's bit); the signature is the sign vector.
    Candidate generation uses pigeonhole banding with single-bit
    multi-probe: 8 bands × 8 bits, and each doc additionally probes every
    single-bit flip of each band value. Two signatures within Hamming
    distance 15 must have SOME band at distance ≤ 1 (pigeonhole), so the
    equi-join on (band, probed_value) captures them — J = 0.8 near-dups
    on short docs flip up to ~10 of 64 sign bits, beyond what exact-band
    matching (≤ 7) guarantees. Probing multiplies the probe side by 9,
    never the candidate space (random 8-bit collisions stay ~9/256 per
    band pair). Still no all-pairs Hamming scan anywhere. Candidates are
    verified with exact Jaccard ≥ 0.6; with the planted corpus the
    verified output equals the ground-truth pair set, so the entry is
    hash-checked. Shared machinery: :func:`_simhash_pairs_over` — the
    16-bit large-corpus variant (``x02_simhash16_neardup``) differs only
    in ``(band_bits, radius)``.
    """
    return _simhash_pairs_over(table(spark, sf_dir, "documents"), 8, 1)


@register(
    "x02_simhash16_neardup",
    oracle=f"""
    WITH {_OVERLAP_SQL}
    SELECT doc_a, doc_b
    FROM overlap
    WHERE inter::DOUBLE / (n_a + n_b - inter) >= 0.6
    """,
    tags=("dedup", "X2", "simhash"),
)
def x02_simhash16_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2c': SimHash near-dup with 16-BIT bands — the large-corpus
    regime ``SCALE.md`` names (r09 verdict item 4).

    The 8-bit form's bands take only 256 values, so at 10⁹ docs every
    band bucket holds ~n/256 docs and the pre-filter candidate stream
    degenerates to O(n²/256) RANDOM pairs — pigeonhole collisions, not
    near-dups. 16-bit bands take 65 536 values (4 bands of 16 bits
    from the same 64-bit signature); to keep the IDENTICAL capture
    guarantee — any pair within Hamming distance 15 has some band at
    distance ≤ floor(15/4) = 3 — the in-band probe deepens to radius 3,
    split across the join sides as radius 2 vs radius 1 (137 + 17
    masks; see :func:`_simhash_candidates`). Net random-collision
    probability per pair: 4·697/65536 ≈ 4.3% vs the 8-bit form's
    8·9/256 ≈ 28% — ~6.6× fewer junk candidates at equal recall
    guarantee, bought with wider (but narrow-row, generate-only) probe
    streams that never multiply the candidate space. ``tests/test_round10_ops.py`` pins
    the candidate-count reduction on a template-skewed corpus; the
    measured true-pair signature distances (max 15 at sf0.1) sit
    exactly at the guarantee boundary, so verification returns the
    ground-truth pair set and the entry is hash-checked against the
    same exact-Jaccard oracle as the 8-bit form.

    Regime guidance (SCALE.md near-dup section): MinHash-LSH stays the
    default; prefer this form over the 8-bit one when corpus size
    makes 256-value buckets collide. In the very-high-similarity regime
    (J ≳ 0.95), where the distance budget is small, radius 1 (17 masks)
    suffices — but it guarantees capture only up to Hamming distance
    (1+1)·4−1 = 7, so it must come with ``max_hamming=7``:
    ``_simhash_candidates(sh, 16, 1, max_hamming=7)`` (under the
    default ``max_hamming=15`` the call raises ``ValueError``).
    """
    return _simhash_pairs_over(table(spark, sf_dir, "documents"), 16, 3)


#: Candidate-id broadcast guard (r18, ADVICE): above this many candidate
#: docs the verify semi-join falls back to a planner-chosen join rather
#: than force-broadcasting an adversarially huge id list into every
#: executor (a 2^23-row long list is ~64 MB built — far under the 8 GB /
#: 512M-row broadcast cap; beyond it the shuffle join degrades
#: gracefully where the forced broadcast would not).
_BROADCAST_CAND_MAX_ROWS = 8_000_000


def _verify_jaccard(
    docs: DataFrame,
    candidates: DataFrame,
    persisted_out: list | None = None,
    sh_stream: DataFrame | None = None,
    sh_stream_distinct: bool = False,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs (shared by LSH
    variants): the :func:`_shingle_overlap` of the candidate documents,
    kept at J ≥ ``_JACCARD_MIN``.

    DOCS are semi-joined to candidate ids before any shingling, so the
    verification stage tokenizes only candidate documents — the corpus is
    never re-shingled to verify a candidate set that banding has already
    shrunk by orders of magnitude. Per-doc size counts likewise come from
    the candidate-restricted stream: NO stage of verification touches the
    full corpus.

    Verification runs the sparse inverted-index join over ALL pairs of
    candidate documents, not just the generated pairs: any extra pair it
    surfaces passed the exact-Jaccard threshold, so keeping it is free
    recall, and dropping the pair-level semi-join means the expensive
    candidate-generation DAG is consumed exactly ONCE — as the persisted
    id list ``cand_docs`` (O(candidate docs), tiny by construction at any
    scale). The candidate shingle stream is persisted for the same
    reason: three plan branches (both join sides + counts) read it.

    Persist lifecycle: the cached intermediates stay in the session's
    CacheManager after the caller's action completes (Spark has no
    scoped unpersist). Harness loops that run many queries in one
    session must ``spark.catalog.clearCache()`` between queries or
    accumulated cache pressure inflates later timings ~10x (measured;
    bench.py / tools/check_oracle.py / tools/scale_curve.py and
    perfbench's ``after_op`` all do).
    At 100 TB the equivalent is an explicit checkpoint of cand_docs and
    sh_cand with TTL cleanup — the candidate set is small by
    construction, so the cost is bounded either way. Callers that need
    SCOPED release without a blanket ``clearCache()`` (long-lived
    streaming loops sharing a session with caller-owned caches) pass
    ``persisted_out``: the intermediates this call persists are appended
    there for the caller to ``unpersist()`` after its action completes.

    Eager: building the returned DataFrame already runs the candidate
    DAG (shingle, sign, band, candidate pairs) once, through the
    ``cand_docs.count()`` broadcast-size guard below. A caller that only
    plans or explains the query still pays for that job.
    """
    cand_docs = (
        candidates.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .dropDuplicates()
        .persist()
    )
    # Materialize the persisted id list NOW and count it (r18): the
    # count is the broadcast-size guard (ADVICE r17 — an adversarial
    # corpus with a huge candidate set must degrade to a shuffle join,
    # not blow the broadcast), and the job it runs is work the
    # broadcast build would otherwise do inside the final query anyway
    # — the chain is persisted at every level, so nothing is computed
    # twice.
    n_cand = cand_docs.count()
    cand_side = (
        F.broadcast(cand_docs)
        if n_cand <= _BROADCAST_CAND_MAX_ROWS
        else cand_docs
    )
    # Broadcast the candidate-id list into the semi-join (r17 opt): the
    # cached relation's size estimate made the planner pick a sort-merge
    # semi-join, which shuffles AND sorts the ENTIRE corpus by doc_id
    # just to keep the few candidate docs. The id list is O(candidate
    # docs) — tiny by construction (see above) — so broadcasting it
    # leaves the corpus scan in place with zero corpus-side Exchange:
    # guide §3.1 (broadcast replaces a shuffle of the large side) and
    # §2.4. At sf0.1: 2 Exchanges + 2 Sorts removed from the verify
    # stage.
    #
    # ``sh_stream`` (r18): when the caller's candidate generation
    # already computed a persisted corpus shingle relation, verification
    # filters THAT instead of re-scanning and re-tokenizing the corpus —
    # the query's second full-corpus pass disappears outright (guide
    # §1.2 step 1 / §2.4). ``sh_stream_distinct`` says whether the
    # stream is already the per-doc distinct set (SimHash) or the raw
    # window stream (MinHash — duplicate-insensitive minima skip the
    # dedupe shuffle), in which case only the candidate-restricted
    # remnant pays the dedupe.
    if sh_stream is not None:
        sh_cand = sh_stream.join(cand_side, "doc_id", "left_semi")
        if not sh_stream_distinct:
            sh_cand = sh_cand.dropDuplicates(["doc_id", "shingle"])
        sh_cand = sh_cand.persist()
    else:
        sh_cand = shingles(
            docs.join(cand_side, "doc_id", "left_semi"), widen=False
        ).persist()
    if persisted_out is not None:
        persisted_out.extend((cand_docs, sh_cand))
    jac = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        _shingle_overlap(sh_cand)
        .filter(jac >= _JACCARD_MIN)
        .select("doc_a", "doc_b")
    )


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """Per-doc MinHash signature: K seeded universal hashes over shingles.

    h_i(s) = (a_i · x + b_i) mod P with x = xxhash64(shingle) mod P.
    One aggregate computes all K minima in a single pass — the signature
    is K longs per doc, independent of document size.
    """
    x = F.pmod(F.xxhash64(F.col("shingle")), F.lit(_P))
    aggs = [
        F.min(F.pmod(F.lit(a) * x + F.lit(b), F.lit(_P))).alias(f"m{i}")
        for i, (a, b) in enumerate(_AB)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


@register(
    "x02_minhash_lsh_neardup",
    oracle=f"""
    WITH {_OVERLAP_SQL}
    SELECT doc_a, doc_b
    FROM overlap
    WHERE inter::DOUBLE / (n_a + n_b - inter) >= 0.6
    """,
    tags=("dedup", "X2", "lsh"),
)
def x02_minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2b: MinHash + banded LSH candidate generation + exact verification.

    The 100 TB near-dup plan: K=16 min-hashes per doc, banded 8×2; docs
    collide only when a whole band matches (P[collide] ≈ 1-(1-J²)⁸ →
    0.9997 at J = 0.8, ~0.03 at J = 0.1). Candidates are verified with
    exact Jaccard, so false positives cost compute, never correctness.
    The oracle is the ground-truth J ≥ 0.6 pair set: with the planted
    corpus (all true pairs at J ≥ 0.8) the seeded LSH recalls 100%, so
    LSH output ≡ ground truth and the entry is hash-checked — stronger
    than the rows-only check the scheme nominally needs.
    """
    return minhash_verified_pairs(spark, sf_dir)


def band_buckets(sig: DataFrame) -> DataFrame:
    """Banded LSH index rows: one 64-bit hash per band over that band's R
    signature values, stacked to (doc_id, band_id, band_hash) long format
    — the storable index a production deployment precomputes."""
    band_cols = []
    for band in range(_B):
        ms = [F.col(f"m{band * _R + r}") for r in range(_R)]
        band_cols.append(
            F.struct(
                F.lit(band).alias("band_id"),
                F.xxhash64(F.lit(band), *ms).alias("band_hash"),
            )
        )
    return sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bb")
    ).select("doc_id", "bb.band_id", "bb.band_hash")


def minhash_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full MinHash-LSH near-dup pipeline: verified (doc_a, doc_b) pairs.

    Shared by the pair query (``x02_minhash_lsh_neardup``) and the
    cluster-assignment operator (``x02_dedup_clusters``).
    """
    return minhash_pairs_over(table(spark, sf_dir, "documents"))


def minhash_pairs_over(docs: DataFrame) -> DataFrame:
    """MinHash-LSH near-dup pairs over an arbitrary ``(doc_id, text)``
    corpus DataFrame — the scale-curve seam (``tools/scale_curve.py``
    times this over synthesized multiples of the sf0.1 corpus)."""
    # MinHash minima are unchanged by duplicates: the signature reads the
    # raw shingle stream and skips the dedupe shuffle (doc-level
    # repartition parallelizes the map-side aggregate); only the exact
    # Jaccard verification needs the distinct set. The raw stream is
    # persisted and shared with the verify stage (r18): one corpus
    # scan+tokenize per query — verification dedupes only the
    # candidate-restricted remnant.
    sh = shingles(
        docs.repartition(F.col("doc_id")), distinct=False, widen=False
    ).persist()
    sig = minhash_signatures(sh)

    # Persist the band index once (r17 opt): both join branches read it,
    # and Spark does NOT reuse the signature subtree across the two
    # branches (measured: the whole shingle+signature DAG executed twice,
    # sequentially, because the planner broadcasts one side — the build
    # pays the full DAG before the stream side starts its own copy).
    # Guide §5 persist rule: reused AND expensive to recompute. Same
    # lifecycle as the _verify_jaccard caches (bench/check_oracle
    # clearCache between queries; production stores this index — see
    # build_band_index, which is the durable form of exactly this
    # relation).
    buckets = band_buckets(sig).persist()

    lhs = buckets.alias("l")
    rhs = buckets.alias("r")
    candidates = (
        lhs.join(
            rhs,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .dropDuplicates()
    )

    return _verify_jaccard(docs, candidates, sh_stream=sh)


def build_band_index(docs: DataFrame, table_name: str, n_buckets: int = 16) -> None:
    """Persist the corpus band index as a BUCKETED table — the amortized
    half of production incremental dedup.

    ``band_hash`` already folds ``band_id`` into the hash
    (:func:`band_buckets` computes ``xxhash64(band, m...)``), so the
    single column is a complete join key: a cross-band 64-bit collision
    merely creates a false candidate that exact-Jaccard verification
    kills. Bucketing (and sorting) the stored index by ``band_hash``
    means every later increment join reads bucket *i* straight into task
    *i* — the corpus-side shuffle was paid ONCE at index-build time and
    never again. At 100 TB this is the difference between a daily job
    that shuffles |increment| rows and one that re-shuffles the corpus
    index every day. ``tests/test_band_index.py`` pins the plan contract
    (no Exchange above the index scan) and result parity with the
    recompute-everything path.
    """
    sig = minhash_signatures(
        shingles(docs.repartition(F.col("doc_id")), distinct=False, widen=False)
    )
    (
        band_buckets(sig)
        .write.mode("overwrite")
        .bucketBy(n_buckets, "band_hash")
        .sortBy("band_hash")
        .format("parquet")
        .saveAsTable(table_name)
    )


def incremental_candidates_against_index(
    spark: SparkSession, inc_docs: DataFrame, index_table: str
) -> DataFrame:
    """Candidate (inc_doc, corpus_doc) pairs: increment bands ⋈ stored index.

    Only the increment side is signed and shuffled; the index side is the
    bucketed table from :func:`build_band_index`, read in place. Output
    is candidates only — callers verify with exact Jaccard over a corpus
    covering both sides (see :func:`incremental_neardup_with_index`).
    """
    sig_inc = minhash_signatures(
        shingles(
            inc_docs.repartition(F.col("doc_id")), distinct=False, widen=False
        )
    )
    lhs = band_buckets(sig_inc).alias("l")
    rhs = spark.table(index_table).alias("r")
    return (
        lhs.join(rhs, F.col("l.band_hash") == F.col("r.band_hash"))
        .filter(F.col("l.doc_id") != F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
        )
        .dropDuplicates()
    )


def incremental_neardup_with_index(
    spark: SparkSession,
    inc_docs: DataFrame,
    all_docs: DataFrame,
    index_table: str,
    persisted_out: list | None = None,
) -> DataFrame:
    """Verified (inc_doc, corpus_doc) near-dup pairs via the stored index.

    The production recurrence of ``x02_incremental_neardup``: identical
    output contract, but the corpus is never re-signed — its band index
    comes from the bucketed table. ``all_docs`` must cover the text of
    both sides for verification.
    """
    inc_ids = inc_docs.select("doc_id").withColumn("__inc", F.lit(True))
    candidates = incremental_candidates_against_index(
        spark, inc_docs, index_table
    )
    pairs = _verify_jaccard(
        all_docs, candidates, persisted_out=persisted_out
    )
    flagged = (
        pairs.join(
            inc_ids.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                "__inc", "__a_inc"
            ),
            "doc_a",
            "left",
        )
        .join(
            inc_ids.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "__inc", "__b_inc"
            ),
            "doc_b",
            "left",
        )
        .select(
            "doc_a",
            "doc_b",
            F.coalesce("__a_inc", F.lit(False)).alias("a_inc"),
            F.coalesce("__b_inc", F.lit(False)).alias("b_inc"),
        )
    )
    return (
        flagged.filter(F.col("a_inc") != F.col("b_inc"))
        .select(
            F.when(F.col("a_inc"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("inc_doc"),
            F.when(F.col("a_inc"), F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("corpus_doc"),
        )
    )


@register(
    "x02_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_OVERLAP_SQL},
    verified AS (
        SELECT doc_a, doc_b FROM overlap
        WHERE inter::DOUBLE / (n_a + n_b - inter) >= 0.6
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM verified
        UNION ALL SELECT doc_b, doc_a FROM verified
    ),
    reach AS (
        SELECT src AS doc, src AS root FROM edges
        UNION
        SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.doc
    )
    SELECT doc AS doc_id,
           min(root) AS canonical_doc_id,
           count(*) AS cluster_size,
           (doc = min(root)) AS is_canonical
    FROM reach GROUP BY doc
    """,
    tags=("dedup", "X2", "clusters", "iterative"),
)
def x02_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2d: near-dup CLUSTER assignment — pairs → connected components.

    The step that makes pairwise dedup actionable: a training pipeline
    keeps one canonical doc per duplicate CLUSTER, and pairs alone
    under-delete chains (a~b, b~c with a≁c must still collapse to one
    survivor). Connected components over the verified-pair edge set,
    each labelled by its min doc_id, the deterministic canonical
    survivor.

    Scale shape: the edge set is the LSH-verified pair list — orders of
    magnitude smaller than the corpus — so it is collected once and
    labelled on the driver (:func:`propagate_min_labels`). The
    oracle computes the same components with a recursive CTE, so even
    this iterative operator is hash-checked end-to-end.
    """
    labels = propagate_min_labels(minhash_verified_pairs(spark, sf_dir))
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return (
        labels.join(sizes, "label")
        .select(
            F.col("doc").alias("doc_id"),
            F.col("label").alias("canonical_doc_id"),
            "cluster_size",
            (F.col("doc") == F.col("label")).alias("is_canonical"),
        )
    )


def propagate_min_labels(pairs: DataFrame) -> DataFrame:
    """Connected components of a (doc_a, doc_b) pair set → (doc, label),
    label = the minimum doc id of the doc's component (shared by the
    cluster-assignment and keep-best entries).

    One action collects the pairs as Arrow and the components are
    labelled on the driver; the labels come back as a local relation
    built from a ``pyarrow.Table``, typed like the pair ids. Verified
    near-dup pairs are few by construction (100-150 in perfbench's
    corpora, 256 at sf0.1), and any distributed algorithm pays at least
    one Spark job per round, each re-reading the pairs: a distributed
    min-label loop costs perfbench's ``neardup_components`` op 38 jobs,
    the collect 20. Measured on 4 cores with a 2 GB driver JVM, the
    collect beat that loop at every size from 1k to 1M edges (100k:
    1.3 s vs 5.6 s wall; 1M: 7.1 s vs 24 s) and labelled 4M edges in
    6.3 s with the driver's Python process ~550 MB above its starting
    size (sweep in CHANGES.md). A pair set whose Arrow batches exceed
    ``spark.driver.maxResultSize`` fails the collect loudly.

    Labelling: ids are ranked (``np.unique``) so rank order is id
    order; every round hooks the larger of each edge's two roots under
    the smaller and then pointer-jumps until every tree is a star. A
    root's label only ever decreases, and only ever to an id of its own
    component, so when every edge joins equal roots each component is
    one star whose root is its minimum id. Null ids fail loudly in
    ``to_numpy`` (zero-copy conversion of an array with nulls).
    """
    import numpy as np
    import pyarrow as pa

    edges = pairs.select("doc_a", "doc_b").toArrow()
    a = edges.column("doc_a").combine_chunks().to_numpy()
    b = edges.column("doc_b").combine_chunks().to_numpy()
    ids, ranks = np.unique(np.concatenate([a, b]), return_inverse=True)
    src, dst = ranks[: len(a)], ranks[len(a) :]
    root = np.arange(len(ids))
    while True:
        ra, rb = root[src], root[dst]
        if np.array_equal(ra, rb):
            break
        np.minimum.at(root, np.maximum(ra, rb), np.minimum(ra, rb))
        while not np.array_equal(jumped := root[root], root):
            root = jumped
    return pairs.sparkSession.createDataFrame(
        pa.table({"doc": ids, "label": ids[root]})
    )


@register(
    "x02_incremental_neardup",
    oracle=f"""
    WITH {_OVERLAP_SQL}
    SELECT
        CASE WHEN doc_a % 10 = 0 THEN doc_a ELSE doc_b END AS inc_doc,
        CASE WHEN doc_a % 10 = 0 THEN doc_b ELSE doc_a END AS corpus_doc
    FROM overlap
    WHERE inter::DOUBLE / (n_a + n_b - inter) >= 0.6
      AND ((doc_a % 10 = 0) <> (doc_b % 10 = 0))
    """,
    tags=("dedup", "X2", "lsh", "incremental"),
)
def x02_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2f: incremental near-dup — new batch vs indexed corpus.

    The shape a 100 TB deployment actually runs daily: the increment
    (here doc_id % 10 == 0, ~10% of docs — standing in for "today's
    crawl") is checked against the existing corpus WITHOUT any
    corpus×corpus work. The corpus side's signatures/band index are a
    plain DataFrame here; in production they are precomputed once and
    stored (:func:`band_buckets` is the storable long format), so the
    recurring cost is only: shingle+sign the increment, equi-join its
    bands against the index, verify candidates. Work per day scales with
    |increment| + |collisions|, never |corpus|².

    Output: (inc_doc, corpus_doc) verified pairs — the increment docs to
    drop or canonicalize before they enter the lake.
    """
    docs = table(spark, sf_dir, "documents")
    is_inc = F.col("doc_id") % 10 == 0
    # ONE persisted raw shingle stream over the whole corpus (r18): the
    # increment and corpus signature aggregates each read their filtered
    # slice of it (the doc_id filter preserves the hash partitioning, so
    # both groupBys stay shuffle-free), and exact-Jaccard verification
    # filters the same cache — the query scans+tokenizes the corpus
    # ONCE, where the previous form paid three text passes (increment
    # sign, corpus sign, verify re-scan). This also dissolves the r17
    # broadcast-serialization regression: the serial chain behind the
    # candidate broadcast no longer hides a corpus re-scan behind it.
    sh_all = shingles(
        docs.repartition(F.col("doc_id")), distinct=False, widen=False
    ).persist()
    sig_inc = minhash_signatures(sh_all.filter(is_inc))
    sig_cor = minhash_signatures(sh_all.filter(~is_inc))
    lhs = band_buckets(sig_inc).alias("l")
    rhs = band_buckets(sig_cor).alias("r")
    candidates = (
        lhs.join(
            rhs,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
        )
        .dropDuplicates()
    )
    # _verify_jaccard re-derives all-pairs >= threshold among candidate
    # docs (free recall, see its docstring); keep only cross-side pairs
    # and normalize to (inc_doc, corpus_doc).
    pairs = _verify_jaccard(docs, candidates, sh_stream=sh_all)
    a_inc = F.col("doc_a") % 10 == 0
    b_inc = F.col("doc_b") % 10 == 0
    return (
        pairs.filter(a_inc != b_inc)
        .select(
            F.when(a_inc, F.col("doc_a")).otherwise(F.col("doc_b")).alias(
                "inc_doc"
            ),
            F.when(a_inc, F.col("doc_b")).otherwise(F.col("doc_a")).alias(
                "corpus_doc"
            ),
        )
    )


@register(
    "pipeline_split_leakage_audit",
    oracle=f"""
    WITH {_OVERLAP_SQL},
    verified AS (
        SELECT doc_a, doc_b FROM overlap
        WHERE inter::DOUBLE / (n_a + n_b - inter) >= 0.6
    ),
    labeled AS (
        SELECT doc_a, doc_b,
               {_split_sql(_split_bucket_sql('doc_a'))} AS split_a,
               {_split_sql(_split_bucket_sql('doc_b'))} AS split_b
        FROM verified
    )
    SELECT doc_a, doc_b, split_a, split_b
    FROM labeled
    WHERE split_a <> split_b
    """,
    tags=("pipeline", "X2", "X4", "leakage", "composition"),
)
def pipeline_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage audit: near-dup pairs that straddle train/val/test.

    The eval-integrity check a training pipeline must run AFTER splitting:
    a hash split is uniform over doc_ids, so two near-duplicate documents
    routinely land in different splits — and a val/test doc with a train
    near-twin silently inflates eval scores. This entry composes the
    verified MinHash-LSH pair set (``x02_minhash_lsh_neardup``) with the
    deterministic split assignment (``x04_dataset_split``'s Knuth
    multiplicative hash) and reports every cross-split pair — the docs to
    re-home (move the whole dedup cluster into one split) or drop before
    training.

    Split membership is pure integer arithmetic on doc_id, so NO join
    against a split table is needed on either engine — the audit costs
    one projection over the (tiny) verified-pair set on top of the LSH
    pipeline it reuses. At 100 TB the pair set is the already-amortized
    dedup artifact; the audit itself is a free scan over it.
    """
    pairs = minhash_verified_pairs(spark, sf_dir)
    labeled = pairs.select(
        "doc_a",
        "doc_b",
        split_of(F.col("doc_a")).alias("split_a"),
        split_of(F.col("doc_b")).alias("split_b"),
    )
    return labeled.filter(F.col("split_a") != F.col("split_b"))


@register(
    "x02_dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE {_OVERLAP_SQL},
    verified AS (
        SELECT doc_a, doc_b FROM overlap
        WHERE inter::DOUBLE / (n_a + n_b - inter) >= 0.6
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM verified
        UNION ALL SELECT doc_b, doc_a FROM verified
    ),
    reach AS (
        SELECT src AS doc, src AS root FROM edges
        UNION
        SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.doc
    ),
    comp AS (SELECT doc AS doc_id, min(root) AS cluster_id FROM reach GROUP BY doc),
    scored AS (
        SELECT c.doc_id, c.cluster_id, d.n_chars,
               row_number() OVER (
                   PARTITION BY c.cluster_id
                   ORDER BY d.n_chars DESC, c.doc_id ASC
               ) AS rn
        FROM comp c JOIN documents d USING (doc_id)
    )
    SELECT doc_id, cluster_id, CAST(n_chars AS BIGINT) AS n_chars,
           (rn = 1) AS keep
    FROM scored
    """,
    tags=("dedup", "X2", "clusters", "survivor"),
)
def x02_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2e: quality-aware survivor selection per duplicate cluster.

    ``x02_dedup_clusters`` canonicalizes by min doc_id — fine for
    determinism, wrong for data quality: production dedup keeps the BEST
    member of each cluster (longest, highest quality score, freshest),
    not the lowest id. This entry composes the connected components with
    a per-doc quality proxy (``n_chars`` — swap in the composite quality
    score at deployment) and flags the argmax per cluster, ties broken
    by min doc_id for determinism.

    Scale shape: components come from the shared label-propagation
    helper (one collect of the verified pairs and a driver pass over
    them); the scoring join touches only clustered
    docs (a small minority of the corpus by construction) and the
    survivor pick is one window over |clustered docs| keyed by cluster.
    """
    labels = propagate_min_labels(minhash_verified_pairs(spark, sf_dir))
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    from pyspark.sql import Window

    scored = labels.select(
        F.col("doc").alias("doc_id"), F.col("label").alias("cluster_id")
    ).join(docs, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return scored.select(
        "doc_id",
        "cluster_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        (F.row_number().over(w) == 1).alias("keep"),
    )


@register(
    "x02_fuzzy_levenshtein_neardup",
    oracle="""
    SELECT
        a.doc_id AS doc_a,
        b.doc_id AS doc_b,
        CAST(levenshtein(substr(a.text, 1, 64), substr(b.text, 1, 64))
             AS BIGINT) AS edit_dist
    FROM documents a
    JOIN documents b
      ON a.lang = b.lang
     AND substr(a.text, 1, 8) = substr(b.text, 1, 8)
     AND a.doc_id < b.doc_id
    WHERE levenshtein(substr(a.text, 1, 64), substr(b.text, 1, 64)) <= 10
    """,
    tags=("dedup", "X2", "fuzzy"),
)
def x02_fuzzy_levenshtein_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2g: blocked edit-distance near-dup — the character-level rung of
    the near-dup ladder (MinHash/SimHash catch token-level rewrites;
    Levenshtein catches typo-level drift the shingle methods miss).

    Scale shape: all-pairs Levenshtein is O(n² · L²) and never viable.
    Blocking on ``(lang, prefix8)`` turns candidate generation into an
    equi-join — a plain shuffle-hash join on the block key — and the
    quadratic verifier runs on candidates only (99 pairs for 500 docs at
    sf0.01; block-size skew is bounded because a long shared prefix IS
    near-duplication). Verification uses Spark's bounded
    ``levenshtein(l, r, threshold)`` (SPARK-44030): the DP matrix
    evaluates only a 2·k+1 diagonal band and early-exits at k+1, so cost
    per pair is O(k·L), not O(L²); ``-1`` marks "exceeds threshold" and
    is filtered. The truncation to 64 chars caps the verifier cost per
    pair regardless of document length (prefix agreement at 64 chars is
    the candidate definition, full-text verify would be the next rung).
    """
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.substring("text", 1, 8).alias("block"),
        F.substring("text", 1, 64).alias("head"),
    )
    a = docs.alias("a")
    b = docs.alias("b")
    dist = F.levenshtein(F.col("a.head"), F.col("b.head"), 10)
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.block") == F.col("b.block"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.cast("bigint").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") >= 0)
    )


@register(
    "x02_containment_pairs",
    oracle=f"""
    WITH {_OVERLAP_SQL}
    SELECT
        doc_a,
        doc_b,
        CAST(inter AS BIGINT) AS inter,
        CAST(round(inter::DOUBLE / n_a * 1000000.0) AS BIGINT)
            AS contain_a_e6,
        CAST(round(inter::DOUBLE / n_b * 1000000.0) AS BIGINT)
            AS contain_b_e6
    FROM overlap
    WHERE inter::DOUBLE / n_a >= 0.8 OR inter::DOUBLE / n_b >= 0.8
    """,
    tags=("dedup", "X2", "containment"),
)
def x02_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2i: shingle-containment pairs — subset/quote detection.

    Jaccard misses asymmetric duplication: a document wholly quoted
    inside a much larger one scores J = |small|/|large| (tiny) yet is
    exactly the contamination a training pipeline must catch (nested
    crawls, quoted articles, boilerplate-wrapped reposts). Containment
    C(A→B) = |A∩B|/|A| is the directional fix (Broder's original
    resemblance/containment split): either direction ≥ 0.8 here flags
    the pair, and both directional scores are emitted so the consumer
    can tell quote-of from quoted-in.

    Same sparse inverted-index intersection as the exact-Jaccard rung,
    :func:`_shingle_overlap` (only docs SHARING a shingle ever meet —
    never all-pairs), same per-doc sizes; only the normalization
    differs. At 100 TB the
    production form feeds LSH candidates into this verifier unchanged;
    the scaled-BIGINT scores are one IEEE division each over exact
    integer counts.
    """
    # Persist the shingle stream once (r17 opt) — same three-branch
    # re-evaluation as x02_neardup_jaccard, same lifecycle.
    sh = shingles(table(spark, sf_dir, "documents")).persist()
    c_ab = F.col("inter") / F.col("n_a")
    c_ba = F.col("inter") / F.col("n_b")
    return (
        _shingle_overlap(sh)
        .filter((c_ab >= 0.8) | (c_ba >= 0.8))
        .select(
            "doc_a",
            "doc_b",
            F.col("inter").cast("bigint").alias("inter"),
            F.round(c_ab * 1000000.0).cast("bigint").alias("contain_a_e6"),
            F.round(c_ba * 1000000.0).cast("bigint").alias("contain_b_e6"),
        )
    )


@register(
    "x01_dedup_canonicalized",
    oracle="""
    WITH canon AS (
        SELECT doc_id,
               trim(regexp_replace(
                   lower(regexp_replace(text, '[^a-zA-Z0-9 ]', ' ', 'g')),
                   ' +', ' ', 'g')) AS ctext
        FROM documents
    )
    SELECT
        CAST(min(doc_id) AS BIGINT) AS canonical_doc_id,
        CAST(count(*) AS BIGINT) AS n_variants,
        CAST(min(length(ctext)) AS BIGINT) AS canon_len
    FROM canon
    GROUP BY ctext
    """,
    tags=("dedup", "X1", "canonical"),
)
def x01_dedup_canonicalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1c: canonicalize-then-hash dedup — the practical exact-dup rung.

    Byte-exact dedup (x01_dedup_content_hash) misses trivially-mutated
    copies: case flips, punctuation swaps, whitespace reflow — the noise
    mirrors and re-posts actually introduce. Production pipelines
    therefore canonicalize BEFORE hashing (lowercase → strip
    non-alphanumerics → collapse runs of spaces → trim), which catches
    those while staying cheap and exact — the rung between byte-exact
    and MinHash. Canonicalization is the pipeline's declared dup
    equivalence, so it lives in the operator, not ad hoc in callers.

    Cross-engine note: Spark's ``regexp_replace`` replaces ALL
    occurrences; DuckDB needs the explicit ``'g'`` flag — the same SQL
    text would silently mean different things, which is why this
    family's oracles are separate texts (and the fuzz grammar excludes
    regexp_replace, tests/test_differential_fuzz.py).

    Scale shape: identical to content-hash dedup — canonicalization is
    a per-row codegen projection riding the scan, and the group-by key
    is ``sha2`` of the canonical form (32-byte shuffle key, never the
    text).
    """
    # Strip BEFORE lowercasing (r16 unicode wave): lower() is the one
    # locale-sensitive step (Java maps U+0130 'İ' to "i"+U+0307 while
    # DuckDB's utf8proc maps it to "i"), so case-fold only after the
    # ASCII-restricting strip has removed every codepoint the engines
    # could disagree on. Strip-then-lower ≡ lower-then-strip on ASCII
    # input (baseline outputs byte-identical); on hostile unicode the
    # reordered form is engine-portable where the old one diverged.
    canon = F.trim(
        F.regexp_replace(
            F.lower(
                F.regexp_replace(F.col("text"), "[^a-zA-Z0-9 ]", " ")
            ),
            " +",
            " ",
        )
    )
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", canon.alias("ctext")
    )
    return (
        docs.groupBy(F.sha2(F.col("ctext"), 256).alias("__h"))
        .agg(
            F.min("doc_id").cast("bigint").alias("canonical_doc_id"),
            F.count("*").cast("bigint").alias("n_variants"),
            F.min(F.length("ctext")).cast("bigint").alias("canon_len"),
        )
        .drop("__h")
    )


# pipeline_dedup_report composes the canonical-dedup and LSH-near-dup
# oracles registered above, so the report stays mechanically in sync
# with the stages it summarizes.
from ..registry import ORACLES as _ORACLES  # noqa: E402


@register(
    "pipeline_dedup_report",
    oracle=f"""
    WITH canon AS ({_ORACLES["x01_dedup_canonicalized"]}),
    nd AS ({_ORACLES["x02_minhash_lsh_neardup"]}),
    nd_docs AS (
        SELECT doc_a AS d FROM nd UNION SELECT doc_b FROM nd
    )
    SELECT
        CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs,
        CAST((SELECT count(*) FROM canon) AS BIGINT) AS n_canonical_groups,
        CAST((SELECT count(*) FROM documents)
             - (SELECT count(*) FROM canon) AS BIGINT) AS n_exact_dup_docs,
        CAST((SELECT count(*) FROM nd) AS BIGINT) AS n_neardup_pairs,
        CAST((SELECT count(*) FROM nd_docs) AS BIGINT) AS n_docs_in_pairs
    """,
    tags=("pipeline", "dedup", "X1", "X2"),
)
def pipeline_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: composed dedup audit — the one-row report a curation run logs.

    The dedup ladder's stages each answer "which rows"; operations
    needs "how much": corpus size, canonical-form groups (exact +
    trivially-mutated dups collapsed), documents lost to exact
    duplication, verified near-dup pairs surviving LSH + Jaccard
    verification, and how many documents those pairs touch. This is
    the number-block that goes in a dataset card / run log, computed
    in-engine from the SAME registered stages (oracle texts composed,
    like the ANN recall audit — the report cannot drift from the
    pipeline it reports on).

    Scale shape: strictly the union of its stages' costs (each already
    audited scale-shaped); the final assembly is five scalar aggregates
    cross-joined at one row each.
    """
    docs = table(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count("*").cast("bigint").alias("n_docs"))
    canon = x01_dedup_canonicalized(spark, sf_dir).agg(
        F.count("*").cast("bigint").alias("n_canonical_groups")
    )
    # Persist the verified pair set (r18, guide §5): TWO report columns
    # consume it (pair count + distinct-doc count) through separate
    # broadcast subtrees, and without the cache each broadcast build
    # re-executes the whole shingle+sign+band+verify DAG serially —
    # the same double-evaluation pathology r17 fixed inside the LSH
    # stages, recurring one level up in the composed report. The pair
    # relation is O(verified pairs) — tiny at any scale.
    nd = x02_minhash_lsh_neardup(spark, sf_dir).persist()
    nd_pairs = nd.agg(F.count("*").cast("bigint").alias("n_neardup_pairs"))
    nd_docs = (
        nd.select(F.col("doc_a").alias("d"))
        .union(nd.select(F.col("doc_b").alias("d")))
        .distinct()
        .agg(F.count("*").cast("bigint").alias("n_docs_in_pairs"))
    )
    return (
        n_docs.crossJoin(F.broadcast(canon))
        .crossJoin(F.broadcast(nd_pairs))
        .crossJoin(F.broadcast(nd_docs))
        .select(
            "n_docs",
            "n_canonical_groups",
            (F.col("n_docs") - F.col("n_canonical_groups"))
            .cast("bigint")
            .alias("n_exact_dup_docs"),
            "n_neardup_pairs",
            "n_docs_in_pairs",
        )
    )
