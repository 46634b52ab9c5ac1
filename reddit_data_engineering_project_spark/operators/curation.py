"""Corpus-curation operators: repetition metrics, PII scrub, splits, chunking.

The four curation stages a pretraining pipeline runs after dedup/quality
(X4 family, extending `text_analysis.py`):

- repetition metrics (Gopher-style duplicate-n-gram fractions) feed the
  repetition filter;
- PII scrub detects and redacts emails/phones/IPs before anything is
  exported;
- deterministic hash splits assign every doc a stable train/val/test
  label with no shuffle and no RNG state;
- overlapping token chunking windows long docs into model-context-sized
  pieces.

All four are built-in-function Spark (higher-order array functions,
``explode``, ``regexp_replace``) — zero Python on the data path. Scale
notes per op in the docstrings: the only shuffle in the family is the
per-(doc, bigram) aggregate in repetition metrics, keyed on a
high-cardinality composite, so nothing hotspots at 100 TB.

The curation contract, written once per engine (Spark helper / oracle
SQL fragment, composed into the oracles by f-string; the token rule,
type-token ratio and bigrams come from ``text_analysis``):

- the split hash multiplies ``doc_id`` by ``_SPLIT_MULT`` modulo
  ``_SPLIT_PRIME`` (:func:`_split_hash`, :func:`_split_hash_sql`); its
  last two digits are the split bucket (:func:`split_bucket`,
  :func:`_split_bucket_sql`), labelled 80/10/10 train/val/test
  (:func:`_split_label`, :func:`_split_sql`);
- the PII stage plants one contact line per doc (:func:`_planted`,
  ``_PLANTED_SQL``) and redacts emails, then phones, then IPs
  (:func:`_redact`, :func:`_redact_sql`);
- the repetition gate keeps docs whose duplicate-token fraction
  (1 - type-token ratio) is at most ``_REP_MAX``;
- windows start every ``stride`` tokens below the token count
  (:func:`_starts`, :func:`_starts_sql`): chunks of ``_CHUNK_SIZE`` at
  ``_CHUNK_STRIDE``, boilerplate blocks of ``_BP_BLOCK``;
- the chained stages are :func:`curate` in Spark and ``_CURATED_SQL``
  in the oracles of ``pipeline_curation_full`` and
  ``q18_export_training_shards``;
- a BPE census counts adjacent character pairs inside tokens
  (:func:`_census`, :func:`_pairs_sql`) and ranks them by count, ties
  to the lower pair (:func:`_top_pairs`, :func:`_pair_rank_sql`).

Reference parity: the reference (ManojGowda27/Reddit_Data_Engineering_project)
has no curation layer — these extend the engine per the north-star X4
charter in SURVEY §2.3.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..functions.numeric import dround
from ..registry import register
from ..tables import ensure_min_parallelism, table
from .text_analysis import (
    _BIGRAMS_SQL,
    _TTR_SQL,
    _bigram,
    _bigram_zip,
    _toks_sql,
    _ttr,
    nsize,
    tokens,
)

#: Hash-split constants: Knuth multiplicative hash under a Mersenne-ish
#: prime. Pure 64-bit-safe integer arithmetic so Spark and any oracle
#: engine compute bit-identical buckets (doc_id < ~1e13 keeps the
#: product below 2^63).
_SPLIT_PRIME = 1_000_000_007
_SPLIT_MULT = 2_654_435_761

#: Chunking geometry: 64-token windows, stride 48 (25% overlap).
_CHUNK_SIZE = 64
_CHUNK_STRIDE = 48

#: Repetition gate: the largest duplicate-token fraction a doc may have.
_REP_MAX = 0.62


def _split_hash(col: Column) -> Column:
    """The multiplicative split hash of ``col`` (a doc_id)."""
    return ((col % _SPLIT_PRIME) * _SPLIT_MULT) % _SPLIT_PRIME


def split_bucket(col):
    """Knuth multiplicative hash bucket 0-99 for the train/val/test split.

    THE split definition — every Spark-side consumer (dataset split,
    curation pipeline, leakage audit) must use this helper so a ratio or
    hash change can never leave one copy stale. Every oracle spelling is
    :func:`_split_bucket_sql`, which embeds _SPLIT_PRIME/_SPLIT_MULT.
    """
    return _split_hash(col) % 100


def _split_label(bucket: Column) -> Column:
    """80/10/10 train/val/test label of a :func:`split_bucket` value."""
    return (
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
    )


def split_of(col):
    """80/10/10 train/val/test label for :func:`split_bucket`."""
    return _split_label(split_bucket(col))


def _split_hash_sql(col: str) -> str:
    """DuckDB twin of :func:`_split_hash`."""
    return f"(({col} % {_SPLIT_PRIME}) * {_SPLIT_MULT}) % {_SPLIT_PRIME}"


def _split_bucket_sql(col: str) -> str:
    """DuckDB twin of :func:`split_bucket`."""
    return f"{_split_hash_sql(col)} % 100"


def _split_sql(bucket: str) -> str:
    """DuckDB twin of :func:`_split_label`."""
    return (
        f"CASE WHEN {bucket} < 80 THEN 'train' "
        f"WHEN {bucket} < 90 THEN 'val' ELSE 'test' END"
    )


def _starts(n: Column, stride: int) -> Column:
    """Window starts 0, stride, 2·stride, ... below ``n`` tokens."""
    return F.filter(
        F.sequence(F.lit(0), n + stride, F.lit(stride)), lambda st: st < n
    )


def _starts_sql(n: str, stride: int) -> str:
    """DuckDB twin of :func:`_starts`."""
    return f"list_filter(range(0, {n} + {stride}, {stride}), st -> st < {n})"


@register(
    "x04_repetition_metrics",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_toks_sql('text')} AS toks FROM documents),
    s AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               len(list_distinct(toks)) AS n_distinct,
               {_BIGRAMS_SQL} AS bigrams
        FROM t
        WHERE len(toks) >= 2
    ),
    e AS (
        SELECT doc_id, n_tokens, n_distinct, unnest(bigrams) AS bg FROM s
    ),
    c AS (
        SELECT doc_id, n_tokens, n_distinct, bg, count(*) AS cnt
        FROM e GROUP BY ALL
    )
    SELECT
        doc_id,
        n_tokens,
        round((1.0 - n_distinct::DOUBLE / n_tokens) * 10000.0) / 10000.0
            AS dup_token_frac,
        round(max(cnt)::DOUBLE / sum(cnt) * 10000.0) / 10000.0
            AS top_bigram_frac,
        round(coalesce(sum(cnt) FILTER (cnt > 1), 0)::DOUBLE / sum(cnt)
              * 10000.0) / 10000.0 AS dup_bigram_frac
    FROM c
    GROUP BY doc_id, n_tokens, n_distinct
    """,
    tags=("text", "X4", "repetition"),
)
def x04_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: Gopher-style intra-document repetition metrics.

    Three signals the standard repetition filter thresholds on:
    duplicate-token fraction (1 - TTR), the fraction of bigram instances
    claimed by the single most frequent bigram, and the fraction of
    bigram instances whose bigram occurs more than once (the
    "duplicate n-gram fraction" from the Gopher/MassiveText filters).

    Scale shape: one narrow projection builds the bigram pairs in
    codegen (``text_analysis._bigram_zip``), one explode, one aggregate
    keyed on (doc_id, bigram) — a high-cardinality composite key that
    cannot hotspot — then a per-doc re-aggregate that reuses the same
    hash partitioning on doc_id, so AQE coalesces rather than
    reshuffles. Token stats (n_tokens,
    n_distinct) ride through both group-bys as grouping constants,
    avoiding a self-join back to the corpus.
    """
    docs = table(spark, sf_dir, "documents")
    # Filter BEFORE the pair projection: slice(toks, 1, size-1) with an
    # empty token list asks for length -1 and ABORTS the job (adversarial
    # -sweep finding — a whitespace-only document kills the stage; the
    # committed fixtures have no empty docs). A where in the same select
    # would not help: the projection evaluates bz for every input row.
    base = (
        docs.select("doc_id", tokens(F.col("text")).alias("toks"))
        .where(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.size("toks").alias("n_tokens"),
            F.size(F.array_distinct("toks")).alias("n_distinct"),
            _bigram_zip().alias("bz"),
        )
    )
    counted = (
        base.select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            F.explode("bz").alias("p"),
        )
        .select("doc_id", "n_tokens", "n_distinct", _bigram().alias("bg"))
        .groupBy("doc_id", "n_tokens", "n_distinct", "bg")
        .agg(F.count("*").alias("cnt"))
    )
    n_bigrams = F.sum("cnt")
    return counted.groupBy("doc_id", "n_tokens", "n_distinct").agg(
        dround(
            (1.0 - F.col("n_distinct").cast("double") / F.col("n_tokens")),
            4,
        ).alias("dup_token_frac"),
        dround(F.max("cnt").cast("double") / n_bigrams, 4).alias(
            "top_bigram_frac"
        ),
        dround(
            F.coalesce(
                F.sum(F.when(F.col("cnt") > 1, F.col("cnt"))), F.lit(0)
            ).cast("double")
            / n_bigrams,
            4,
        ).alias("dup_bigram_frac"),
    ).drop("n_distinct")


#: PII regexes — simple alternation-free patterns that parse identically
#: under Java regex (Spark) and RE2 (DuckDB): no lookaround, no
#: backreferences.
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\b555-[0-9]{4}\b"
_IP_RE = r"\b10\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"

#: (count column, pattern, replacement) in redaction order.
_PII = (
    ("n_emails", _EMAIL_RE, "<EMAIL>"),
    ("n_phones", _PHONE_RE, "<PHONE>"),
    ("n_ips", _IP_RE, "<IP>"),
)


def _planted() -> Column:
    """``text`` plus the deterministic contact line of (source, doc_id):
    one email, one phone number and one IP per doc."""
    return F.concat(
        F.col("text"),
        F.lit(" contact "),
        F.col("source"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com phone 555-01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        F.lit(" ip 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".1"),
    )


def _redact(text: Column) -> Column:
    """``text`` with emails, then phones, then IPs replaced by tags."""
    for _, pattern, tag in _PII:
        text = F.regexp_replace(text, pattern, tag)
    return text


_PLANTED_SQL = """text || ' contact ' || source || doc_id::VARCHAR
               || '@example.com phone 555-01'
               || lpad((doc_id % 100)::VARCHAR, 2, '0')
               || ' ip 10.0.' || (doc_id % 256)::VARCHAR || '.1'"""


_PII_COUNTS_SQL = ",\n        ".join(
    f"len(regexp_extract_all(text, '{pattern}')) AS {name}"
    for name, pattern, _ in _PII
)


def _redact_sql(text: str) -> str:
    """DuckDB twin of :func:`_redact`."""
    for _, pattern, tag in _PII:
        text = f"regexp_replace({text}, '{pattern}', '{tag}', 'g')"
    return text


#: DuckDB twin of :func:`curate` up to its last projection: the CTE
#: ``curated`` (doc_id, rep_frac, split, toks) of the docs that pass the
#: repetition gate, with ``toks`` the tokens of the redacted text.
_CURATED_SQL = f"""rep AS (
        SELECT doc_id, source, text, 1.0 - {_TTR_SQL} AS rep_frac
        FROM (SELECT *, {_toks_sql('text')} AS toks FROM documents)
    ),
    curated AS (
        SELECT doc_id, rep_frac,
               {_split_sql(_split_bucket_sql('doc_id'))} AS split,
               {_toks_sql(_redact_sql(_PLANTED_SQL))} AS toks
        FROM rep
        WHERE rep_frac <= {_REP_MAX}
    )"""


@register(
    "x04_pii_scrub",
    oracle=f"""
    WITH aug AS (SELECT doc_id, {_PLANTED_SQL} AS text FROM documents)
    SELECT
        doc_id,
        {_PII_COUNTS_SQL},
        md5({_redact_sql('text')}) AS redacted_md5
    FROM aug
    """,
    tags=("text", "X4", "pii"),
)
def x04_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: PII detection + redaction (emails, phone numbers, IPv4).

    The synthetic corpus carries no organic PII, so the op first appends
    a DETERMINISTIC contact line derived from (source, doc_id)
    (:func:`_planted`) — giving every doc exactly one planted
    email/phone/IP — then runs the real detection/redaction pipeline
    over the combined text. The oracle
    plants the identical line and hashes the identical redaction, so the
    gate checks the full regex machinery end-to-end (counts AND the
    md5 of the redacted text), not just the plumbing.

    Scale shape: pure per-row codegen — three ``regexp_replace`` passes
    and three extract-counts, no shuffle at all. Patterns are
    lookaround-free so they mean the same thing under Java regex and
    RE2. Redaction order (email → phone → IP, :func:`_redact`) is fixed;
    replacements cannot create new matches for later patterns.
    """
    docs = table(spark, sf_dir, "documents")
    aug = docs.select("doc_id", _planted().alias("text"))
    # NB: patterns go through the Python API (F.lit), never F.expr — a SQL
    # string literal would eat the \b word boundaries as escape sequences.
    return aug.select(
        "doc_id",
        *[
            nsize(
                F.regexp_extract_all(F.col("text"), F.lit(pattern), F.lit(0))
            ).alias(name)
            for name, pattern, _ in _PII
        ],
        F.md5(_redact(F.col("text"))).alias("redacted_md5"),
    )


@register(
    "x04_dataset_split",
    oracle=f"""
    WITH h AS (
        SELECT doc_id, lang, {_split_bucket_sql('doc_id')} AS bucket
        FROM documents
    )
    SELECT doc_id, lang, bucket, {_split_sql('bucket')} AS split
    FROM h
    """,
    tags=("text", "X4", "split"),
)
def x04_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: deterministic hash-based train/val/test split assignment.

    Emits each doc's split bucket and label (the module docstring's
    split contract). Pure integer arithmetic (no engine hash function,
    no RNG, no seed state), so the assignment is reproducible across
    engines, runs, and partitionings — the property a training pipeline
    needs so that re-runs never leak val docs into train.

    Scale shape: a narrow stateless projection — no shuffle; the split
    column is a pushdown-able predicate for downstream
    ``WHERE split = 'train'`` scans.
    """
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        split_bucket(F.col("doc_id")).alias("bucket"),
        split_of(F.col("doc_id")).alias("split"),
    )


@register(
    "x04_chunking",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_toks_sql('text')} AS toks FROM documents),
    s AS (
        SELECT doc_id, toks, len(toks) AS n_tokens,
               unnest({_starts_sql('len(toks)', _CHUNK_STRIDE)}) AS start
        FROM t
    )
    SELECT
        doc_id,
        start // {_CHUNK_STRIDE} AS chunk_idx,
        start,
        least({_CHUNK_SIZE}, n_tokens - start) AS chunk_len,
        md5(array_to_string(
            list_slice(toks, start + 1,
                       least(start + {_CHUNK_SIZE}, n_tokens)), ' '))
            AS chunk_md5
    FROM s
    """,
    tags=("text", "X4", "chunking"),
)
def x04_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: overlapping token chunking (context windows for training).

    Windows each doc into ``_CHUNK_SIZE``-token chunks every
    ``_CHUNK_STRIDE`` tokens (64 and 48: 25% overlap), the standard
    long-doc → model-context preprocessing step. Emits per-chunk
    geometry plus an md5 of the chunk's reassembled text so the gate
    verifies the actual token content of every chunk, not just the
    arithmetic.

    Scale shape: chunk starts come from ``sequence`` + ``filter``
    (:func:`_starts`) inside codegen, one explode, then per-row
    ``slice``/``concat_ws``/``md5`` — no shuffle, and output size is a
    bounded multiple of input (ceil(n_tokens / stride) rows per doc).
    """
    docs = table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        tokens(F.col("text")).alias("toks"),
    ).select(
        "doc_id",
        "toks",
        F.size("toks").alias("n_tokens"),
    )
    exploded = base.select(
        "doc_id",
        "toks",
        "n_tokens",
        F.explode(_starts(F.col("n_tokens"), _CHUNK_STRIDE)).alias("start"),
    )
    chunk_len = F.least(
        F.lit(_CHUNK_SIZE), F.col("n_tokens") - F.col("start")
    )
    return exploded.select(
        "doc_id",
        F.floor(F.col("start") / _CHUNK_STRIDE).cast("long").alias(
            "chunk_idx"
        ),
        "start",
        chunk_len.alias("chunk_len"),
        F.md5(
            F.concat_ws(
                " ", F.slice(F.col("toks"), F.col("start") + 1, chunk_len)
            )
        ).alias("chunk_md5"),
    )


@register(
    "pipeline_curation_full",
    oracle=f"""
    WITH {_CURATED_SQL}
    SELECT
        doc_id,
        split,
        round(rep_frac * 10000.0) / 10000.0 AS rep_frac,
        len(toks) AS n_tokens,
        len({_starts_sql('len(toks)', _CHUNK_STRIDE)}) AS n_chunks,
        md5(array_to_string(
            list_slice(toks, 1, least({_CHUNK_SIZE}, len(toks))), ' '))
            AS first_chunk_md5
    FROM curated
    """,
    tags=("pipeline", "X4", "curation", "composition"),
)
def pipeline_curation_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation chain: repetition gate → PII scrub → split → chunk.

    The second composed pipeline (companion to ``pipeline_training_prep``,
    which covers quality gate → exact dedup → packing): this one chains
    the curation stages, as ONE DataFrame plan the optimizer sees whole:

    1. repetition gate — drop docs with duplicate-token fraction above
       ``_REP_MAX`` (the Gopher-style repetition filter; keeps ~69% of
       this corpus);
    2. PII scrub — plant the deterministic contact line, then redact
       emails/phones/IPs (same regexes as ``x04_pii_scrub``);
    3. split assignment — the multiplicative-hash 80/10/10 bucket of
       ``x04_dataset_split``;
    4. chunking — the window geometry of ``x04_chunking`` over the
       REDACTED token stream; ``first_chunk_md5`` pins the actual
       post-redaction chunk content, so stage order is observable
       (redact-then-chunk ≠ chunk-then-redact).

    Every stage is individually oracle-pinned by its standalone entry;
    this entry pins the composition. Zero shuffles end to end — the
    whole chain is narrow projections and filters, which is the point:
    curation at 100 TB is a single scan-shaped pass, and anything that
    introduces a shuffle here is a plan bug.
    """
    return curate(table(spark, sf_dir, "documents"))


def curate(docs: DataFrame) -> DataFrame:
    """The curation chain over any ``(doc_id, source, text)`` frame.

    Every stage is a stateless narrow transformation, so this SAME
    function applies unchanged to a ``readStream`` DataFrame — the
    streaming rendering is pinned by
    ``tests/test_stream_curation.py`` (stream output ≡ batch output).
    """
    toks1 = tokens(F.col("text"))
    # nsize (not size, inside _ttr): legacy size(NULL) = -1 made
    # rep_frac 0.0 for a NULL doc, sneaking contentless rows through the
    # gate; NULL rep_frac fails the predicate on both engines, so NULL
    # docs are curated OUT.
    rep = docs.select(
        "doc_id", "source", "text", (1.0 - _ttr(toks1)).alias("rep_frac")
    ).where(F.col("rep_frac") <= _REP_MAX)
    aug = rep.select("doc_id", "rep_frac", _planted().alias("full_text"))
    staged = aug.select(
        "doc_id",
        "rep_frac",
        split_bucket(F.col("doc_id")).alias("bucket"),
        tokens(_redact(F.col("full_text"))).alias("toks"),
    )
    n_toks = F.size("toks")
    return staged.select(
        "doc_id",
        _split_label(F.col("bucket")).alias("split"),
        dround(F.col("rep_frac"), 4).alias("rep_frac"),
        n_toks.alias("n_tokens"),
        F.size(_starts(n_toks, _CHUNK_STRIDE)).alias("n_chunks"),
        # concat_ws flattens a NULL array to '' (md5('') =
        # d41d8cd9...), while the oracle's array_to_string(NULL) is
        # NULL — gate on the array so a row whose augmented text is
        # NULL (e.g. the all-NULL documents.source corpus: Spark's
        # concat propagates the NULL through full_text -> toks) hashes
        # to NULL on both engines (r14 null-join-key sweep finding)
        F.when(
            F.col("toks").isNotNull(),
            F.md5(
                F.concat_ws(
                    " ",
                    F.slice(
                        F.col("toks"),
                        1,
                        F.least(F.lit(_CHUNK_SIZE), n_toks),
                    ),
                )
            ),
        ).alias("first_chunk_md5"),
    )


#: Tokenizer vocabulary size; OOV tokens map to the single UNK id.
_VOCAB_SIZE = 256
_UNK_ID = _VOCAB_SIZE


@register(
    "x04_tokenize_to_ids",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_toks_sql('text')} AS toks FROM documents),
    tokc AS (
        SELECT unnest(toks) AS token FROM t
    ),
    freq AS (
        SELECT token, count(*) AS cnt FROM tokc GROUP BY token
        ORDER BY cnt DESC, token ASC LIMIT {_VOCAB_SIZE}
    ),
    vocab AS (
        SELECT token,
               row_number() OVER (ORDER BY cnt DESC, token ASC) - 1 AS id
        FROM freq
    ),
    e AS (
        SELECT t.doc_id, t.toks[gs.i] AS tok, gs.i AS pos
        FROM t CROSS JOIN LATERAL (
            SELECT unnest(range(1, len(t.toks) + 1)) AS i
        ) gs
    ),
    mapped AS (
        SELECT e.doc_id, e.pos, coalesce(v.id, {_UNK_ID}) AS id
        FROM e LEFT JOIN vocab v ON e.tok = v.token
    )
    SELECT
        t.doc_id,
        count(m.id) AS n_tokens,
        count(*) FILTER (m.id = {_UNK_ID}) AS n_unk,
        md5(coalesce(
            array_to_string(list(m.id ORDER BY m.pos)
                            FILTER (m.id IS NOT NULL), ','),
            '')) AS ids_md5
    FROM t LEFT JOIN mapped m USING (doc_id)
    GROUP BY t.doc_id
    """,
    tags=("text", "X4", "tokenizer"),
)
def x04_tokenize_to_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: tokenize to vocabulary ids — the text → training-input step.

    Builds a 256-entry vocabulary (corpus top tokens by frequency, ties
    broken lexicographically, id = rank) and maps every document's token
    stream to ids, OOV → the single UNK id. ``ids_md5`` hashes the full
    ordered id sequence, so the gate pins the entire tokenization of
    every document.

    Scale shape — the part worth copying: the vocab is aggregated once
    (map-side-combined count, top-k via ``TakeOrderedAndProject``),
    collapsed to ONE map literal row, and broadcast; per-doc encoding is
    then ``transform(toks, t -> coalesce(vmap[t], UNK))`` — a stateless
    per-row lookup with NO explode-rejoin and NO shuffle of the token
    stream. The oracle deliberately takes the dumb explode + join +
    re-sort route: different plan, same answer, which is the point of
    differential checking — with a LEFT join back from the doc table so
    a ZERO-token document (empty/whitespace text) still emits its
    (n_tokens=0, md5 of the empty id string) row; the unnest route
    alone silently drops such docs while the map-transform route keeps
    them (adversarial-sweep finding).
    """
    docs = table(spark, sf_dir, "documents")
    toksed = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    freq = (
        toksed.select(F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(_VOCAB_SIZE)
    )
    # Global (unpartitioned) window — safe by construction: its input is
    # the ≤256-row vocab from the limit above, at ANY corpus size.
    w = Window.orderBy(F.col("cnt").desc(), F.col("token").asc())
    vocab = freq.select(
        "token", (F.row_number().over(w) - 1).alias("id")
    )
    vmap = vocab.agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("token", "id")))
        ).alias("vmap")
    )
    # NULL text tokenizes to the EMPTY id stream (n_tokens 0, md5 of
    # ''), matching the oracle's LEFT-join route where a NULL doc emits
    # no mapped rows.
    encoded = toksed.crossJoin(F.broadcast(vmap)).select(
        "doc_id",
        F.coalesce(
            F.transform(
                "toks",
                lambda t: F.coalesce(
                    F.element_at(F.col("vmap"), t), F.lit(_UNK_ID)
                ),
            ),
            F.array().cast("array<int>"),
        ).alias("ids"),
    )
    return encoded.select(
        "doc_id",
        F.size("ids").alias("n_tokens"),
        F.size(F.filter("ids", lambda i: i == _UNK_ID)).alias("n_unk"),
        F.md5(F.concat_ws(",", F.transform("ids", lambda i: i.cast("string")))).alias(
            "ids_md5"
        ),
    )


#: Second-stage multiplier for the mixing hash (decorrelates acceptance
#: from the dataset-split buckets, which use _SPLIT_MULT once).
_MIX_MULT = 2_246_822_519
#: Fraction of the corpus the rebalanced sample targets.
_MIX_KEEP = 0.5


@register(
    "x04_mixing_rebalance",
    oracle=f"""
    WITH c AS (
        SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    ),
    w AS (SELECT source, n_docs, sqrt(n_docs::DOUBLE) AS wt FROM c),
    tot AS (SELECT sum(wt) AS sw, sum(n_docs) AS sn FROM w),
    r AS (
        SELECT source, n_docs,
               least(1.0, {_MIX_KEEP} * sn * (wt / sw) / n_docs) AS rate
        FROM w, tot
    ),
    acc AS (
        SELECT d.source,
               (({_split_hash_sql('d.doc_id')} % {_SPLIT_PRIME})
                * {_MIX_MULT}) % {_SPLIT_PRIME} % 1000000 AS h,
               r.rate
        FROM documents d JOIN r ON d.source = r.source
    )
    SELECT
        acc.source,
        count(*) AS n_docs,
        count(*) FILTER (h < rate * 1000000.0) AS n_kept,
        round(max(rate) * 10000.0) / 10000.0 + 0.0 AS rate
    FROM acc
    GROUP BY acc.source
    """,
    tags=("text", "X4", "mixing"),
)
def x04_mixing_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: temperature-based source rebalancing (data-mixing sampler).

    Rebalances a multi-source corpus toward sqrt-weighted source shares
    (temperature T=2 resampling — the standard fix for head-heavy source
    distributions in pretraining mixes): per-source acceptance rate
    r_s = min(1, K·N·(√n_s / Σ√n) / n_s), membership decided by a
    second-stage multiplicative hash of doc_id — deterministic, seedless,
    and independent of the train/val/test split hash (different
    multiplier stage, so acceptance does not correlate with split
    bucket).

    Scale shape: the per-source count is one map-side-combined aggregate
    collapsing to |sources| rows; rates broadcast back onto the corpus
    (20-row join side); acceptance is a per-row integer hash compare.
    The only data-sized shuffles are the two tiny aggregates — the
    corpus itself never moves. Output reports per-source kept counts so
    the realized mix is auditable against the target.
    """
    docs = table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    w = counts.select(
        "source", "n_docs", F.sqrt(F.col("n_docs").cast("double")).alias("wt")
    )
    tot = w.agg(
        F.sum("wt").alias("sw"), F.sum("n_docs").alias("sn")
    )
    rates = w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.least(
            F.lit(1.0),
            _MIX_KEEP * F.col("sn") * (F.col("wt") / F.col("sw"))
            / F.col("n_docs"),
        ).alias("rate"),
    )
    h1 = _split_hash(F.col("doc_id"))
    h = ((h1 % _SPLIT_PRIME) * _MIX_MULT) % _SPLIT_PRIME % 1_000_000
    acc = docs.select("doc_id", "source", h.alias("h")).join(
        F.broadcast(rates), "source"
    )
    return acc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count(
            F.when(F.col("h") < F.col("rate") * 1_000_000.0, 1)
        ).alias("n_kept"),
        dround(F.max("rate"), 4).alias("rate"),
    )


@register(
    "q18_export_training_shards",
    oracle=f"""
    WITH {_CURATED_SQL}
    SELECT split,
           count(*) AS n_docs,
           CAST(sum(len(toks)) AS BIGINT) AS total_tokens,
           min(doc_id) AS min_doc_id,
           max(doc_id) AS max_doc_id
    FROM curated
    GROUP BY split
    """,
    tags=("sinks", "Q18", "X4", "export"),
)
def q18_export_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18/X4: the end deliverable — curated corpus as split-partitioned shards.

    Runs the full curation chain (:func:`curate`), writes the result as
    Hive-partitioned parquet (``split=train/val/test`` — the layout a
    training job's reader prunes on), reads the FILES back, and
    aggregates per split. As with ``q18_sink_roundtrip``, the returned
    values come from the written files while the oracle recomputes from
    the source table, so loss/corruption/type drift through the sink
    cycle breaks the hash. Partition pruning on ``split`` is what makes
    ``WHERE split = 'train'`` a directory-level skip at 100 TB.
    """
    from .sinks import _scratch_dir, write_partitioned_parquet

    curated = curate(table(spark, sf_dir, "documents")).select(
        "doc_id", "split", "n_tokens"
    )
    out = _scratch_dir("training_shards")
    write_partitioned_parquet(curated, out, "split")
    # Explicit schema-on-read: a fully-filtered curation (empty corpus,
    # or every doc failing the gates) writes no footers — inference
    # would raise where the declared schema reads an empty frame (the
    # r12 degenerate-cardinality finding, same class as
    # q18_sink_roundtrip).
    back = spark.read.schema(curated.schema).parquet(out)
    return back.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


@register(
    "x04_corpus_profile",
    oracle="""
    SELECT
        source,
        count(*) AS n_docs,
        CAST(count(text) AS BIGINT) AS n_text_nonnull,
        CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct_ids,
        min(n_chars) AS min_chars,
        max(n_chars) AS max_chars,
        CAST(sum(n_chars) AS BIGINT) AS total_chars,
        round(
            CAST(sum(n_chars) AS DOUBLE) / count(*) * 10000
        ) / 10000.0 AS mean_chars,
        CAST(sum(CASE WHEN n_chars < 16 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_too_short
    FROM documents
    GROUP BY source
    """,
    tags=("text", "profiling", "X4"),
)
def x04_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4s: one-pass per-source corpus profile — the ingest health check.

    Every column's null rate, cardinality, and length envelope over ONE
    scan: the profile a 100 TB ingest runs before anything else touches
    the data (nulls where the schema says none, a source suddenly
    emitting 8-char stubs, duplicate ids). The two exact
    ``count(DISTINCT)`` columns make Catalyst plan an Expand (3× rows
    into the aggregate) — kept here because exact counts are what the
    oracle can pin; the 100 TB path swaps them for
    ``approx_count_distinct`` per the Q8 contract (mergeable sketch, no
    Expand, one true pass). Mean length
    uses the exact-integer-sum formulation (``sum/count``, not ``avg``)
    — double ``avg`` over longs is partition-order-sensitive on the
    last bit (the round-2 ``x05_corpus_slice`` flake).
    """
    docs = table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count("text").alias("n_text_nonnull"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("doc_id").alias("n_distinct_ids"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.sum("n_chars").alias("total_chars"),
        dround(
            F.sum("n_chars").cast("double") / F.count("*"), 4
        ).alias("mean_chars"),
        # when/otherwise(0), not a predicate cast: Spark's NULL-skipping
        # sum collapses a source group whose n_chars are all NULL to a
        # NULL counter where the oracle's CASE..ELSE 0 says 0 — the
        # same class the r13 nullity sweep caught in
        # x04_data_quality_report, caught HERE by the round-14
        # all-NULL-n_chars corpus
        F.sum(
            F.when(F.col("n_chars") < 16, F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
        ).alias("n_too_short"),
    )


@register(
    "x04_data_quality_report",
    oracle="""
    WITH ev AS (
        SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
               event_type, value, props
        FROM events
    ),
    scan AS (
        SELECT
            count(*) AS n_rows,
            CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS null_event_id,
            CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS null_ts,
            CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS null_value,
            CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS null_user_id,
            CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS negative_value,
            CAST(sum(CASE WHEN ts < TIMESTAMP '2000-01-01'
                           OR ts >= TIMESTAMP '2100-01-01'
                          THEN 1 ELSE 0 END) AS BIGINT) AS ts_out_of_range,
            CAST(sum(CASE WHEN event_type NOT IN
                          ('click','view','purchase','signup','share')
                          THEN 1 ELSE 0 END) AS BIGINT) AS unknown_event_type,
            count(*) - count(DISTINCT event_id) AS duplicate_event_ids
        FROM ev
    ),
    orphans AS (
        -- user_id IS NOT NULL guard: NOT IN returns NULL (drops the row)
        -- for NULL probes while Spark's left-anti keeps them; pinning
        -- the same explicit semantics on both engines keeps a future
        -- corpus regeneration with NULL user_ids from silently
        -- diverging. NULL user_ids are already counted by null checks.
        SELECT CAST(count(*) AS BIGINT) AS orphan_user_rows
        FROM ev WHERE user_id IS NOT NULL
          AND user_id NOT IN (SELECT c_custkey FROM customer)
    )
    SELECT
        n_rows, null_event_id, null_ts, null_value, null_user_id,
        negative_value, ts_out_of_range, unknown_event_type,
        duplicate_event_ids, orphan_user_rows
    FROM scan, orphans
    """,
    tags=("text", "X4", "quality", "constraints"),
)
def x04_data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: one-pass constraint audit (the deequ/dbt-test role).

    The acceptance gate a production lake runs on every ingest batch:
    completeness (null counts on contract columns), domain validity
    (value range, timestamp sanity window, event-type enum), uniqueness
    (duplicate key count), and referential integrity (event rows whose
    user_id has no dimension row). All row-level constraints fold into
    ONE conditional aggregate over a single scan — adding a constraint
    is one more aggregate expression, not another pass — and the
    referential check is a broadcast left-anti count against the
    dimension.

    Scale shape: one scan + one broadcast anti-join; output is a 1-row
    report, so shuffled bytes are the aggregation's partials only. At
    100 TB the same plan holds with the dim side broadcast; a too-big
    dim falls back to the bloom-filter path ``tests/test_plans.py`` pins
    for shuffle joins.
    """
    ev = table(spark, sf_dir, "events")
    dim = table(spark, sf_dir, "customer").select("c_custkey")
    known = ("click", "view", "purchase", "signup", "share")
    lo = F.lit("2000-01-01").cast("timestamp")
    hi = F.lit("2100-01-01").cast("timestamp")
    scan = ev.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("event_id").isNull().cast("bigint")).alias(
            "null_event_id"
        ),
        F.sum(F.col("ts").isNull().cast("bigint")).alias("null_ts"),
        F.sum(F.col("value").isNull().cast("bigint")).alias("null_value"),
        F.sum(F.col("user_id").isNull().cast("bigint")).alias(
            "null_user_id"
        ),
        # when/otherwise(0), NOT predicate.cast("bigint"): a NULL input
        # makes the predicate NULL, and Spark's sum SKIPS NULLs — right
        # count while any row yields 0/1, but an ALL-NULL column sums to
        # NULL where the oracle's CASE..ELSE 0 sums zeros. A data-quality
        # report must say 0, not NULL (round-13 nullity-corpus finding).
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0))
        .cast("bigint")
        .alias("negative_value"),
        F.sum(
            F.when((F.col("ts") < lo) | (F.col("ts") >= hi), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("ts_out_of_range"),
        F.sum(
            F.when(~F.col("event_type").isin(*known), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("unknown_event_type"),
        (F.count("*") - F.countDistinct("event_id")).alias(
            "duplicate_event_ids"
        ),
    )
    orphans = (
        ev.select("user_id")
        .filter(F.col("user_id").isNotNull())
        .join(
            F.broadcast(dim),
            ev.user_id == dim.c_custkey,
            "left_anti",
        )
        .agg(F.count("*").alias("orphan_user_rows"))
    )
    return scan.crossJoin(orphans)


#: Boilerplate geometry: non-overlapping 3-token blocks (the "line" /
#: paragraph analog for the corpus's single-line synthetic docs), dropped
#: when the same block text recurs in >= 2 distinct docs of one source.
_BP_BLOCK = 3
_BP_MIN_DOCS = 2


@register(
    "x04_boilerplate_removal",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, source, {_toks_sql('text')} AS toks FROM documents
    ),
    b AS (
        SELECT doc_id, source,
               start // {_BP_BLOCK} AS block_idx,
               array_to_string(
                   list_slice(toks, start + 1,
                              least(start + {_BP_BLOCK}, len(toks))),
                   ' ') AS block_text
        FROM t CROSS JOIN LATERAL (
            SELECT unnest({_starts_sql('len(toks)', _BP_BLOCK)}) AS start
        ) gs
    ),
    boiler AS (
        SELECT source, block_text
        FROM b
        GROUP BY 1, 2
        HAVING count(DISTINCT doc_id) >= {_BP_MIN_DOCS}
    )
    SELECT
        b.doc_id,
        CAST(count(*) AS BIGINT) AS n_blocks,
        CAST(count(*) FILTER (bo.block_text IS NULL) AS BIGINT) AS n_kept,
        md5(coalesce(array_to_string(
            list(b.block_text ORDER BY b.block_idx)
                FILTER (bo.block_text IS NULL),
            ' '), '')) AS kept_md5
    FROM b
    LEFT JOIN boiler bo
        ON b.source = bo.source AND b.block_text = bo.block_text
    GROUP BY b.doc_id
    """,
    tags=("text", "X4", "boilerplate"),
)
def x04_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: CCNet/RefinedWeb-style cross-document boilerplate removal.

    Web-scrape corpora carry nav bars, cookie banners, and footer text
    repeated verbatim across many pages of one site; dedup at document
    granularity never sees them. This op works at sub-document
    granularity: split each doc into non-overlapping token blocks (the
    "line" unit of CCNet's paragraph dedup, sized to this corpus's
    single-line synthetic docs), count in how many DISTINCT docs of the
    same ``source`` each block text recurs, and drop blocks at or above
    the recurrence threshold. Output audits the removal per doc: total
    blocks, retained blocks, and an md5 of the retained text
    reassembled IN ORDER (the order-preservation contract a rewrite
    sink needs).

    Scale shape (100 TB): two shuffles — the (source, block_text)
    recurrence count (partial-agg friendly, high-cardinality composite
    key so no hotspot) and the per-doc reassembly. The join back to
    blocks uses ONLY the filtered boilerplate set, which is tiny by
    construction (blocks crossing the threshold), so it broadcasts;
    the corpus-side block stream is never shuffled for the join. Order
    restoration uses sort_array over (block_idx, text) structs inside
    the aggregate — no global sort.

    Reference parity: extends R16/Q8 dedup duties (README.md:13) to the
    sub-document granularity the north-star charter requires. Measured
    10×-docs curve: SCALE.md.
    """
    docs = table(spark, sf_dir, "documents")
    blocks = (
        docs.select("doc_id", "source", tokens(F.col("text")).alias("toks"))
        .select(
            "doc_id",
            "source",
            F.explode(_starts(F.size("toks"), _BP_BLOCK)).alias("start"),
            F.col("toks"),
        )
        .select(
            "doc_id",
            "source",
            (F.col("start") / _BP_BLOCK).cast("bigint").alias("block_idx"),
            F.array_join(
                F.slice(F.col("toks"), F.col("start") + 1, F.lit(_BP_BLOCK)),
                " ",
            ).alias("block_text"),
        )
    )
    boiler = (
        blocks.groupBy("source", "block_text")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= _BP_MIN_DOCS)
        .select(
            F.col("source").alias("boiler_source"),
            F.col("block_text").alias("boiler_text"),
        )
    )
    flagged = blocks.join(
        F.broadcast(boiler),
        (blocks["source"] == boiler["boiler_source"])
        & (blocks["block_text"] == boiler["boiler_text"]),
        "left",
    ).select(
        "doc_id",
        "block_idx",
        "block_text",
        F.col("boiler_text").isNull().alias("keep"),
    )
    kept_structs = F.filter(
        F.sort_array(
            F.collect_list(F.struct("block_idx", "block_text", "keep"))
        ),
        lambda s: s["keep"],
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_blocks"),
        F.sum(F.col("keep").cast("bigint")).alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(kept_structs, lambda s: s["block_text"]), " "
            )
        ).alias("kept_md5"),
    )


#: Global-shuffle geometry: bijective multiplicative hash order under the
#: split prime, dealt into 8 shards.
_SHUF_SHARDS = 8


@register(
    "x04_global_shuffle",
    oracle=f"""
    WITH h AS (
        SELECT doc_id, {_split_hash_sql('doc_id')} AS order_hash
        FROM documents
    )
    SELECT doc_id,
           order_hash,
           order_hash % {_SHUF_SHARDS} AS shard,
           CAST(row_number() OVER (
               PARTITION BY order_hash % {_SHUF_SHARDS}
               ORDER BY order_hash) AS BIGINT) AS position
    FROM h
    """,
    tags=("text", "X4", "shuffle"),
)
def x04_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: deterministic global training-order shuffle (no RNG state).

    Training wants examples in an order uncorrelated with ingest order,
    reproducible across re-runs and cluster sizes. A bijective
    multiplicative hash of ``doc_id`` under the split prime gives every
    doc a unique pseudo-random rank with zero RNG/seed state (the split
    hash, :func:`_split_hash`); docs are dealt into shards by hash
    and given a dense in-shard position — (shard, position) IS the
    training read order.

    Scale shape: ONE hash-partition shuffle on ``shard`` plus an
    in-partition sort — never a global total-order sort. Each shard's
    rank sequence is independent, so a 1000-executor run writes all
    shards in parallel; the hash is computed scan-side so AQE sees a
    plain repartition. Bijectivity under the prime modulus means no
    rank ties to re-break (doc_id < prime holds to ~1e9 docs/corpus;
    shard count scales to O(total/shard-budget)).
    """
    docs = table(spark, sf_dir, "documents")
    order_hash = _split_hash(F.col("doc_id"))
    h = docs.select(
        "doc_id",
        order_hash.alias("order_hash"),
        (order_hash % _SHUF_SHARDS).alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("order_hash")
    return h.select(
        "doc_id",
        "order_hash",
        "shard",
        F.row_number().over(w).cast("bigint").alias("position"),
    )


def _census(toks: DataFrame, *keys: str) -> DataFrame:
    """Adjacent-pair census ``(*keys, pair, n)`` of the ``t`` token
    column of ``toks``, grouped by the string columns ``keys`` too: one
    Arrow pass per task (:func:`_pair_census_partials`), then one merge
    aggregate."""
    schema = ", ".join([f"{k} string" for k in keys] + ["pair string, pn long"])
    partials = toks.filter(F.length("t") >= 2).mapInPandas(
        _pair_census_partials, schema=schema
    )
    return partials.groupBy(*keys, "pair").agg(F.sum("pn").alias("n"))


def _pair_order() -> tuple[Column, Column]:
    """Census order: count descending, ties to the lower pair."""
    return F.col("n").desc(), F.col("pair").asc()


def _top_pairs(counted: DataFrame, k: int, *keys: str) -> DataFrame:
    """The first ``k`` census rows with their 1-based ``rank``: top-k FIRST
    via TakeOrderedAndProject (per-partition heads, no global sort), so
    the global row_number window runs over ``k`` rows, never the pair
    space (bounded by |alphabet|², but that is 100k+ for unicode)."""
    top = counted.orderBy(*_pair_order()).limit(k)
    w = Window.orderBy(*_pair_order())
    return top.withColumn("rank", F.row_number().over(w)).select(
        *keys, "pair", "n", "rank"
    )


def _pairs_sql(src: str) -> str:
    """DuckDB twin of :func:`_census` before its count: one ``pair`` row
    per adjacent character pair of the tokens ``t`` of ``src``."""
    return f"""SELECT unnest(list_transform(
                   generate_series(1, length(t) - 1),
                   i -> substring(t, CAST(i AS INT), 2))) AS pair
        FROM {src}
        WHERE length(t) >= 2"""


def _pair_rank_sql(src: str, k: int) -> str:
    """DuckDB twin of :func:`_top_pairs` over the pairs of ``src``."""
    return f"""SELECT pair, n, rank FROM (
        SELECT pair,
               count(*) AS n,
               row_number() OVER (ORDER BY count(*) DESC, pair ASC) AS rank
        FROM {src}
        GROUP BY pair
    )
    WHERE rank <= {k}"""


@register(
    "x04_bpe_pair_stats",
    oracle=f"""
    WITH toks AS (SELECT unnest({_toks_sql('text')}) AS t FROM documents),
    pairs AS ({_pairs_sql('toks')})
    {_pair_rank_sql('pairs', 100)}
    """,
    tags=("curation", "X4", "bpe"),
)
def x04_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: BPE merge-pair statistics — the inner loop of byte-pair
    tokenizer training (count adjacent symbol pairs, merge the top one).

    One training iteration's pair census at character level: every
    adjacent 2-char window inside every whitespace token, counted
    corpus-wide, top-100 by count (ties lexicographic — deterministic).
    A real BPE trainer re-runs this census after each merge; the census
    IS the distributed step (the merge-table update is metadata).

    Scale shape: the pair census runs as ONE Arrow pass
    (``mapInPandas`` + packed-key ``np.unique`` — see
    ``_pair_census_partials``; the earlier ``transform(sequence)`` +
    explode materialized one row per character window through an
    INTERPRETED lambda, the round-16 HOF finding), emitting ≤
    |alphabet|² partial rows per task; the merge aggregate and the
    top-100 ``TakeOrderedAndProject`` (per-partition heads, no global
    sort) are unchanged. The window rank re-derives the same order for
    the emitted rows.
    """
    docs = table(spark, sf_dir, "documents")
    # Widen before the explode: the round-robin then moves ~doc-count
    # rows, not ~token-count rows, and the explode itself parallelizes.
    toks = ensure_min_parallelism(docs).select(
        F.explode(tokens(F.col("text"))).alias("t")
    )
    return _top_pairs(_census(toks), 100)


#: Flush threshold for the per-task pair-census accumulator (module level
#: so the bounded-memory test can shrink it and exercise the flush path).
_PAIR_CENSUS_FLUSH_ENTRIES = 1 << 20


def _pair_census_partials(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Per-task adjacent-pair census over a ``t`` token column (plus an
    optional constant ``merged_pair`` pass-through column): one
    ``(merged_pair?, pair, pn)`` partial row per distinct 2-code-point
    window per task. Fully vectorized — the batch's tokens concatenate
    into ONE code-point array, token boundaries mask the cross-token
    windows, and ``np.unique`` counts packed (hi << 21 | lo) keys —
    no per-character Python and no separator sentinel that hostile
    text could collide with. Pairs are exact code-point windows
    (``substr(i, 2)`` semantics, astral-safe on both engines)."""
    import numpy as np

    # Bounded accumulator (r18, ADVICE r17): the per-task dict is capped —
    # a large-alphabet (CJK) corpus can push the |alphabet|²-bounded pair
    # space to millions of entries, and unlike the old spill-capable
    # map-side aggregate a Python dict cannot spill. When the cap trips,
    # the partials are flushed to the downstream groupBy/sum (which
    # already merges partials across tasks, so extra partial rows are
    # free correctness-wise) and the dict restarts empty.
    _FLUSH_ENTRIES = _PAIR_CENSUS_FLUSH_ENTRIES

    def _emit(accs_, has_mp_):
        for mp, acc in accs_.items():
            pairs = [chr(k >> 21) + chr(k & 0x1FFFFF) for k in acc]
            out = {
                "pair": pairs,
                "pn": pd.Series(list(acc.values()), dtype="int64"),
            }
            if has_mp_:
                out = {"merged_pair": [mp] * len(pairs), **out}
            yield pd.DataFrame(out)

    accs: dict = {}
    has_mp = False
    for pdf in batches:
        has_mp = "merged_pair" in pdf.columns
        # dropna=False: Spark's groupBy keeps NULL keys; pandas drops
        # them by default (merged_pair is never NULL today — inner
        # crossJoin against a non-null 1-row pick — but the helper must
        # not bake in a silent row-dropping divergence).
        for mp, group in (
            pdf.groupby("merged_pair", sort=False, dropna=False)
            if has_mp
            else [(None, pdf)]
        ):
            texts = [t for t in group["t"] if t is not None and len(t) >= 2]
            if not texts:
                continue
            big = "".join(texts)
            cp = np.frombuffer(big.encode("utf-32-le"), dtype=np.uint32)
            ends = np.cumsum(np.fromiter(map(len, texts), dtype=np.int64))
            mask = np.ones(len(cp) - 1, dtype=bool)
            mask[ends[:-1] - 1] = False  # windows spanning two tokens
            keys = (cp[:-1][mask].astype(np.int64) << 21) | cp[1:][mask]
            uk, uc = np.unique(keys, return_counts=True)
            acc = accs.setdefault(mp, {})
            for k, c in zip(uk.tolist(), uc.tolist()):
                acc[k] = acc.get(k, 0) + c
        if sum(len(a) for a in accs.values()) > _FLUSH_ENTRIES:
            yield from _emit(accs, has_mp)
            accs = {}
    yield from _emit(accs, has_mp)


def _char_census_rows(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Per-doc character census for ``x04_char_entropy``: one
    ``(doc_id, n_c)`` row per distinct code point per document, counted
    via ``np.unique`` over the UTF-32 view of the text. Counts are
    exact integers, so NO float math crosses this boundary — the log2
    entropy terms stay in the caller's unchanged Spark expression
    (``np.log2`` and Spark's StrictMath-based ``log2`` diverge in the
    last ulp for ~0.08% of integer counts — first at n = 68 260,
    measured exhaustively — which would flip the e6 rounding on
    long-run repeated-character documents; emitting counts instead of
    terms removes that divergence class entirely)."""
    import numpy as np

    for pdf in batches:
        ids, ncs = [], []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            if text is None or len(text) == 0:
                continue
            cp = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32)
            counts = np.unique(cp, return_counts=True)[1]
            ids.append(np.full(len(counts), int(doc_id), dtype=np.int64))
            ncs.append(counts)
        if ids:
            yield pd.DataFrame(
                {
                    "doc_id": np.concatenate(ids),
                    "n_c": np.concatenate(ncs).astype(np.int64),
                }
            )


@register(
    "x04_char_entropy",
    oracle="""
    WITH chars AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, length(text)),
                   i -> substring(text, CAST(i AS INT), 1))) AS c
        FROM documents
        WHERE length(text) >= 1
    ),
    counts AS (
        SELECT doc_id, c, count(*) AS n_c
        FROM chars
        GROUP BY doc_id, c
    ),
    per_doc AS (
        SELECT
            doc_id,
            CAST(sum(n_c) AS BIGINT) AS n_chars_counted,
            CAST(sum(CAST(round(n_c * log2(n_c) * 1000000.0) AS BIGINT))
                 AS BIGINT) AS ent_sum_e6,
            count(*) AS n_distinct_chars
        FROM counts
        GROUP BY doc_id
    )
    SELECT
        doc_id,
        n_chars_counted,
        n_distinct_chars,
        ent_sum_e6,
        CAST(round(
            (log2(n_chars_counted)
             - (ent_sum_e6 / 1000000.0) / n_chars_counted) * 10000.0)
         AS BIGINT) AS entropy_e4
    FROM per_doc
    """,
    tags=("curation", "X4", "quality"),
)
def x04_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: character-unigram Shannon entropy per document — the classic
    gibberish/boilerplate signal (natural text ≈ 4-4.5 bits/char;
    base64 blobs and repeated padding sit far outside that band).

    Exact-integer float discipline: H = log2(N) − (Σ n_c·log2 n_c)/N is
    computed from per-class terms rounded ONCE to e6 BIGINT and summed
    in exact integer math (the X4z bigram-LM pattern) — the engines'
    per-class doubles are identical single libm calls on identical
    integers, so no cross-engine summation-order drift exists; the
    final e4 round divides two exact integers the same way on both
    sides.

    Scale shape: the per-doc census runs as ONE Arrow pass
    (``mapInPandas`` + ``np.unique`` — the r16 payload_energy pattern)
    emitting one exact-integer ``(doc_id, n_c)`` row per distinct code
    point per document — the previous relational form exploded one row
    per CHARACTER through an interpreted higher-order ``transform``
    (HOF lambdas never enter whole-stage codegen, the round-16
    finding) and shuffled that per-char stream into a (doc, char)
    aggregate; the census output is |alphabet|-bounded per doc, so the
    one remaining per-doc aggregate Exchange moves ~20× fewer, narrower
    rows. Measured 2.17 s → ~0.6 s at sf0.1. Every float op (the log2
    terms and the final entropy projection) stays in the SAME Spark
    expressions as before, on the same exact integers — no cross-engine
    or cross-library float path changed (see ``_char_census_rows`` for
    why terms are NOT computed in numpy).
    """
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    counts = ensure_min_parallelism(docs).mapInPandas(
        _char_census_rows, schema="doc_id long, n_c long"
    )
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("n_c").cast("bigint").alias("n_chars_counted"),
        F.sum(
            F.round(F.col("n_c") * F.log2("n_c") * 1_000_000.0).cast("bigint")
        )
        .cast("bigint")
        .alias("ent_sum_e6"),
        F.count("*").alias("n_distinct_chars"),
    )
    return per_doc.select(
        "doc_id",
        "n_chars_counted",
        "n_distinct_chars",
        "ent_sum_e6",
        F.round(
            (
                F.log2("n_chars_counted")
                - (F.col("ent_sum_e6") / 1_000_000.0)
                / F.col("n_chars_counted")
            )
            * 10_000.0
        )
        .cast("bigint")
        .alias("entropy_e4"),
    )


#: Per-source document cap (x04_source_caps). 15 keeps 60% of each
#: source at sf0.01 (25 docs/source) and trims hard at larger SFs —
#: the op must actually drop rows at every test scale to be evidence.
_SOURCE_CAP = 15


@register(
    "x04_source_caps",
    oracle=f"""
    WITH ranked AS (
        SELECT
            doc_id, source, lang, n_chars,
            row_number() OVER (
                PARTITION BY source
                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
            ) AS rk
        FROM documents
    )
    SELECT doc_id, source, lang, n_chars,
           CAST(rk AS BIGINT) AS rank_in_source
    FROM ranked
    WHERE rk <= {_SOURCE_CAP}
    """,
    tags=("curation", "X4", "domain-cap"),
)
def x04_source_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: per-source document cap — the web-scale domain-cap curation op.

    Web corpora are power-law-skewed by origin: a handful of domains
    contribute most of the raw crawl, and uncapped they dominate the
    training mix (the RefinedWeb/C4 pipelines cap documents-per-domain
    for exactly this reason). This op keeps at most ``_SOURCE_CAP`` docs
    per ``source``, choosing WHICH docs via a deterministic hash order
    (md5 of the key, doc_id tiebreak) — a reproducible uniform sample of
    each source, not "first N in storage order", which would bias toward
    crawl order.

    Rate-based sampling (x04_hash_sample / x04_stratified_sample) cannot
    express this: a cap is a per-group ORDER-dependent quota, so it needs
    a window, and therefore exactly one hash exchange on ``source``.

    Scale shape: rank-then-filter is Spark's top-k-per-group pattern; at
    100 TB the exchange partitions by source (the skewed dimension
    itself), and AQE's skew-split handles a mega-source because
    row_number needs only a per-partition sort, not global state. The
    md5 order key is computed map-side pre-shuffle; nothing but the
    (key, order, payload) columns move.
    """
    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select(
            "doc_id",
            "source",
            "lang",
            "n_chars",
            F.row_number().over(w).cast("bigint").alias("rank_in_source"),
        )
        .filter(F.col("rank_in_source") <= _SOURCE_CAP)
    )


@register(
    "x04_bpe_merge_apply",
    oracle=f"""
    WITH toks AS (SELECT unnest({_toks_sql('text')}) AS t FROM documents),
    pairs AS ({_pairs_sql('toks')}),
    top1 AS (SELECT pair AS merged_pair FROM ({_pair_rank_sql('pairs', 1)})),
    merged AS (
        SELECT replace(t, (SELECT merged_pair FROM top1), chr(1)) AS t
        FROM toks
    ),
    pairs2 AS ({_pairs_sql('merged')})
    SELECT (SELECT merged_pair FROM top1) AS merged_pair, *
    FROM ({_pair_rank_sql('pairs2', 20)})
    """,
    tags=("curation", "X4", "bpe"),
)
def x04_bpe_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: one FULL BPE training iteration — census, merge, re-census.

    ``x04_bpe_pair_stats`` is the census half; this registers the whole
    loop body, making BPE training gradeable the same way k-means
    (x03_kmeans_step) and PageRank are: census the pair space, pick the
    top merge (count desc, pair asc — deterministic), apply it to every
    token, and emit the NEXT census's top-20. A trainer is this operator
    iterated, with each round's merged symbol becoming an atomic unit.

    Atomicity is the subtle half: after merging pair "th", the result
    must count as ONE symbol, not two characters (else "the" would
    immediately re-count "th"+"he" overlaps). The merge therefore
    rewrites the pair to a single placeholder char (``chr(1)``, absent
    from the corpus by construction) — string ``replace``'s
    left-to-right non-overlapping scan is exactly BPE's greedy-left
    merge order for overlapping occurrences ("aaa" → merged "Xa").

    Scale shape: two census passes with the same map-side-combinable
    ≤|alphabet|² aggregate as the pair-stats op; the chosen merge is a
    1-row broadcast riding into the rewrite projection; the corpus
    token stream itself is never shuffled — both censuses and the
    rewrite ride scans of it.
    """
    docs = table(spark, sf_dir, "documents")
    # Widen ONCE before the token explode: both Arrow censuses and the
    # merge projection inherit the widened partitioning (the second
    # census sits above a broadcast crossJoin, where probing partition
    # counts would execute the broadcast at plan time — see
    # ensure_min_parallelism).
    toks = ensure_min_parallelism(docs).select(
        F.explode(tokens(F.col("text"))).alias("t")
    )
    # Both censuses run as ONE Arrow pass each (:func:`_census`); the
    # merge rewrite itself stays a codegen ``replace`` projection.
    top1 = (
        _census(toks)
        .orderBy(*_pair_order())
        .limit(1)
        .select(F.col("pair").alias("merged_pair"))
    )
    merged = toks.crossJoin(F.broadcast(top1)).select(
        F.replace(F.col("t"), F.col("merged_pair"), F.lit("\x01")).alias("t"),
        "merged_pair",
    )
    return _top_pairs(_census(merged, "merged_pair"), 20, "merged_pair")
