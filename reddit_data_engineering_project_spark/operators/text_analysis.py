"""Text-analysis operators (north star X4).

The training-data quality layer over ``documents``: per-doc statistics,
term frequency, heuristic language ID, rolling-hash fingerprints,
sampling and packing. Everything is built-in-function Spark
(split/explode/aggregate/higher-order functions) — zero Python on the
data path, so each query is one or two shuffles over JVM codegen, flat
per-row cost at any corpus size.

The text contract, written once per engine (Spark helper / oracle SQL
fragment, composed into the oracles by f-string):

- a document's tokens are its ``text`` split on single spaces with the
  empty strings dropped (:func:`tokens`, :func:`_toks_sql`); NULL text
  has NULL tokens;
- the quality features are the type-token ratio (:func:`_ttr`,
  ``_TTR_SQL``) and the share of tokens in ``_EN_STOP``
  (:func:`_stop_ratio`, ``_STOP_RATIO_SQL``); a document is kept when
  it has at least ``_MIN_TOKENS`` tokens, ``_MIN_CHARS`` characters and
  a ratio of at least ``_MIN_TTR`` (:func:`_keep`, ``_KEEP_SQL``);
- a token's hash rolls its character codes from 0, one step being
  ``acc·_FP_BASE + v`` mod ``_FP_MOD`` (:func:`_char_hash`,
  :func:`_char_hash_sql`), and a fingerprint rolls the token hashes the
  same way;
- a hash sample reads the first hex digits of ``md5(doc_id)`` as an
  integer (:func:`_md5_int`, :func:`_md5_int_sql`);
- a document's bigrams are its adjacent token pairs joined by a space
  (:func:`_bigram_zip` + :func:`_bigram`, ``_BIGRAMS_SQL``);
- packing cuts each ``doc_id % _PACK_SHARDS`` shard, in ``doc_id``
  order, into ``_PACK_BUDGET``-token bins (:func:`_pack`,
  :func:`_pack_sql`).

Two entries keep their own spelling because a shared one would change
their plan: ``x04_ngram_vocab`` builds bigrams with ``zip_with`` and
``x04_decontamination`` shingles the unfiltered split of
``dedup.shingles``. ``pipeline_training_prep`` measures tokens with
``size`` (-1 for NULL text, which its gate drops) instead of
:func:`nsize`.

Language-ID heuristic: tiny public stopword lists per language (the
classic n-gram/stopword-profile approach scaled down to the corpus's
wire format). The oracle replicates the SAME heuristic in SQL, so the
gate checks the implementation, not linguistics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..functions.numeric import dround
from ..registry import register
from ..tables import table

#: Minimal public stopword profiles (top function words per language).
_PROFILES: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "that"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "de": ["der", "die", "das", "und", "in", "von", "zu", "mit"],
    "fr": ["le", "la", "de", "et", "un", "en", "que", "pour"],
}

#: English stopwords used for the quality-score ratio.
_EN_STOP = ["the", "a", "and", "of", "to", "in", "is", "that", "it", "for"]

#: Rolling-hash base and modulus (products stay below 2^62).
_FP_MOD = 1_000_000_007
_FP_BASE = 131

#: The quality gate of x04_quality_filter and pipeline_training_prep.
_MIN_TOKENS = 20
_MIN_CHARS = 100
_MIN_TTR = 0.3

#: Packing geometry: token budget per bin, and shards packed apart.
_PACK_BUDGET = 2048
_PACK_SHARDS = 16


def tokens(col: Column) -> Column:
    """Whitespace tokenization with empties dropped."""
    return F.filter(F.split(col, " "), lambda t: t != "")


def _toks_sql(col: str) -> str:
    """DuckDB twin of :func:`tokens`."""
    return f"list_filter(string_split({col}, ' '), x -> x <> '')"


def nsize(arr: Column) -> Column:
    """NULL-in → NULL-out array length. Spark's legacy ``size`` returns
    -1 for a NULL array (``spark.sql.legacy.sizeOfNull``, the non-ANSI
    default) while DuckDB's ``len`` propagates NULL — and -1 silently
    poisons every downstream ratio/sum. ``size`` yields -1 ONLY for NULL
    input (a real empty array is 0), so the nullif is exact."""
    return F.nullif(F.size(arr), F.lit(-1))


def _profile_score_sql(words: list[str]) -> str:
    """DuckDB twin of :func:`_profile_score` over the ``toks`` column."""
    listed = ",".join(f"'{w}'" for w in words)
    return f"len(list_filter(toks, x -> list_contains([{listed}], x)))"


def _ttr(toks: Column) -> Column:
    """Type-token ratio: distinct tokens over tokens (NULL for NULL text)."""
    return nsize(F.array_distinct(toks)).cast("double") / nsize(toks)


def _stop_ratio(toks: Column) -> Column:
    """Share of the tokens that are in ``_EN_STOP``."""
    stop = F.array(*[F.lit(w) for w in _EN_STOP])
    return (
        nsize(F.filter(toks, lambda t: F.array_contains(stop, t))).cast("double")
        / nsize(toks)
    )


def _keep() -> Column:
    """The quality gate over ``n_tokens``, ``n_chars`` and ``ttr``."""
    return (
        (F.col("n_tokens") >= _MIN_TOKENS)
        & (F.col("n_chars") >= _MIN_CHARS)
        & (F.col("ttr") >= _MIN_TTR)
    )


_TTR_SQL = "len(list_distinct(toks))::DOUBLE / len(toks)"
_STOP_RATIO_SQL = f"{_profile_score_sql(_EN_STOP)}::DOUBLE / len(toks)"
_KEEP_SQL = (
    f"n_tokens >= {_MIN_TOKENS} AND n_chars >= {_MIN_CHARS} "
    f"AND ttr >= {_MIN_TTR}"
)


def _roll(acc: Column, v: Column) -> Column:
    """One step of the rolling hash."""
    return (acc * _FP_BASE + v) % _FP_MOD


def _char_hash(tok: Column) -> Column:
    """Rolling hash of a token's character codes."""
    return F.aggregate(
        F.transform(F.split(tok, ""), lambda c: F.ascii(c).cast("long")),
        F.lit(0).cast("long"),
        _roll,
    )


_ROLL_SQL = f"(acc, v) -> (acc * {_FP_BASE} + v) % {_FP_MOD}"


def _char_hash_sql(tok: str) -> str:
    """DuckDB twin of :func:`_char_hash`."""
    return f"""list_reduce(
            list_prepend(
                CAST(0 AS BIGINT),
                list_transform(string_split_regex({tok}, ''),
                               c -> CAST(ascii(c) AS BIGINT))
            ),
            {_ROLL_SQL}
        )"""


def _md5_int(n_hex: int) -> Column:
    """The first ``n_hex`` hex digits of ``md5(doc_id)`` as a BIGINT."""
    return F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, n_hex), 16, 10
    ).cast("long")


def _md5_int_sql(n_hex: int) -> str:
    """DuckDB twin of :func:`_md5_int`."""
    return f"('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, {n_hex}))::BIGINT"


def _bigram_zip() -> Column:
    """Adjacent-token pairs of the array column ``toks``: arrays_zip of
    its two shifted slices, which stays in whole-stage codegen (a
    ``transform(sequence(...))`` lambda runs interpreted and measured
    2.4x slower). ``slice`` with length -1 aborts the job, so callers
    keep rows with at least two tokens before this projection."""
    sz1 = F.greatest(F.size("toks") - 1, F.lit(0))
    return F.arrays_zip(F.slice("toks", 1, sz1), F.slice(F.col("toks"), 2, sz1))


def _bigram() -> Column:
    """The bigram text of the exploded :func:`_bigram_zip` pair ``p``."""
    return F.concat_ws(" ", F.col("p.0"), F.col("p.1"))


_BIGRAMS_SQL = (
    "list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])"
)


def _pack(df: DataFrame, n_tokens: Column) -> DataFrame:
    """Per-shard concat-and-chunk packing of ``df``'s ``doc_id`` rows of
    ``n_tokens`` tokens: ``(doc_id, shard, n_tokens, bin_id,
    bin_offset)``, where a doc starts at the running token sum of the
    docs before it in its shard."""
    staged = df.select(
        "doc_id",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        n_tokens.alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start_tok")
    return staged.select("doc_id", "shard", "n_tokens", start).select(
        "doc_id",
        "shard",
        "n_tokens",
        F.floor(F.col("start_tok") / _PACK_BUDGET).alias("bin_id"),
        (F.col("start_tok") % _PACK_BUDGET).alias("bin_offset"),
    )


def _pack_sql(src: str) -> str:
    """DuckDB twin of :func:`_pack` over ``src``'s ``doc_id``,
    ``n_tokens``: a CTE ``w`` and the final SELECT."""
    return f"""w AS (
        SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard, n_tokens,
               sum(n_tokens) OVER (
                   PARTITION BY doc_id % {_PACK_SHARDS} ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING
               ) - n_tokens AS start_tok
        FROM {src}
    )
    SELECT doc_id, shard, n_tokens,
           CAST(floor(start_tok / {_PACK_BUDGET}.0) AS BIGINT) AS bin_id,
           CAST(start_tok % {_PACK_BUDGET} AS BIGINT) AS bin_offset
    FROM w"""


@register(
    "x04_doc_stats",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, n_chars, {_toks_sql('text')} AS toks
        FROM documents
    )
    SELECT
        doc_id,
        lang,
        n_chars,
        len(toks) AS n_tokens,
        len(list_distinct(toks)) AS n_unique_tokens,
        round(
            list_sum(list_transform(toks, x -> length(x)))::DOUBLE
            / len(toks) * 10000.0) / 10000.0 AS avg_token_len,
        round({_TTR_SQL} * 10000.0) / 10000.0 AS type_token_ratio,
        round({_STOP_RATIO_SQL} * 10000.0) / 10000.0 AS stopword_ratio
    FROM t
    """,
    tags=("text", "X4"),
)
def x04_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4a: per-document quality statistics (the filter-stage features).

    Token count, vocabulary size, mean token length, type-token ratio,
    stopword ratio — the standard quality-scoring inputs for pretraining
    corpora, all computed with array higher-order functions in one
    narrow projection.
    """
    docs = table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_toks = nsize(toks)
    return docs.select(
        "doc_id",
        "lang",
        "n_chars",
        n_toks.alias("n_tokens"),
        nsize(F.array_distinct(toks)).alias("n_unique_tokens"),
        dround(
            F.aggregate(
                F.transform(toks, lambda t: F.length(t)),
                F.lit(0),
                lambda acc, v: acc + v,
            ).cast("double")
            / n_toks,
            4,
        ).alias("avg_token_len"),
        dround(_ttr(toks), 4).alias("type_token_ratio"),
        dround(_stop_ratio(toks), 4).alias("stopword_ratio"),
    )


def _term_counts(docs: DataFrame) -> DataFrame:
    """``(doc_id, token, tf)``: each token's count in each doc."""
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    )
    return tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))


#: DuckDB twin of :func:`_term_counts` over the English docs: CTE ``tf``.
_TF_SQL = f"""tok AS (
        SELECT doc_id, unnest({_toks_sql('text')}) AS token
        FROM documents WHERE lang = 'en'
    ),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2)"""


@register(
    "x04_term_frequency",
    oracle=f"""
    WITH {_TF_SQL},
    doc_len AS (SELECT doc_id, sum(tf) AS n FROM tf GROUP BY 1),
    df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1)
    SELECT
        tf.doc_id,
        tf.token,
        tf.tf,
        round(tf.tf::DOUBLE / doc_len.n * 10000.0) / 10000.0 AS rel_tf,
        df.df AS doc_freq
    FROM tf
    JOIN doc_len ON tf.doc_id = doc_len.doc_id
    JOIN df ON tf.token = df.token
    WHERE tf.tf >= 3
    """,
    tags=("text", "X4"),
)
def x04_term_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4b: TF / relative-TF / document-frequency (the TF-IDF building blocks).

    Single-derivation plan (round-3 rework, same reasoning as
    ``x04_tfidf``): per-doc length and per-token document frequency are
    WINDOW aggregates over the tf rows rather than separate re-derived
    groupBys — the corpus is tokenized and counted exactly once, then
    two window shuffles (by doc, by token) decorate the same stream.
    Every exchange after the first moves |doc × vocab| count rows, never
    raw tokens, and the plan is join-free.
    """
    docs = table(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    tf = _term_counts(docs)

    w_doc = Window.partitionBy("doc_id")
    w_tok = Window.partitionBy("token")
    decorated = tf.withColumn("n", F.sum("tf").over(w_doc)).withColumn(
        "doc_freq", F.count("*").over(w_tok)
    )
    return decorated.filter(F.col("tf") >= 3).select(
        "doc_id",
        "token",
        "tf",
        dround(F.col("tf").cast("double") / F.col("n"), 4).alias("rel_tf"),
        "doc_freq",
    )


@register(
    "x04_tfidf",
    oracle=f"""
    WITH {_TF_SQL},
    n_docs AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
    df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1)
    SELECT
        tf.doc_id,
        tf.token,
        round(
            tf.tf * ln((n_docs.n + 1.0) / (df.df + 1.0)) * 1000000.0
        ) / 1000000.0 + 0.0 AS tf_idf
    FROM tf, n_docs
    JOIN df ON tf.token = df.token
    WHERE tf.tf >= 2
    """,
    tags=("text", "X4", "tfidf"),
)
def x04_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4g: TF-IDF scores — smoothed idf = ln((N+1)/(df+1)).

    Single-derivation plan (round-3 rework): the naive formulation
    (separate ``tf.groupBy(token)`` for df and ``tf.distinct`` for N)
    recomputed the token aggregate per branch — 6 scans / 14 exchanges,
    no exchange reuse because each branch prunes the aggregate
    differently. Here document frequency is a ``count over
    (partition by token)`` WINDOW on the tf rows themselves (df = number
    of (doc, token) rows per token), so the corpus is tokenized and
    aggregated exactly once, plus one vocabulary-keyed window shuffle.
    N comes from a direct count of the docs scan (no token explosion) and
    broadcasts as a 1-row aggregate — never a collect. 2 scans, 2 heavy
    exchanges at any scale.
    """
    docs = table(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    tf = _term_counts(docs)

    w_tok = Window.partitionBy("token")
    tf_df = tf.withColumn("df", F.count("*").over(w_tok))
    n_docs = (
        docs.filter(F.size(tokens(F.col("text"))) > 0)
        .agg(F.count("*").alias("n"))
    )
    return (
        tf_df.filter(F.col("tf") >= 2)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            dround(
                F.col("tf")
                * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)),
                6,
            ).alias("tf_idf"),
        )
    )


def _profile_score(toks: Column, words: list[str]) -> Column:
    """How many tokens hit the language's stopword profile."""
    prof = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(prof, t)))


@register(
    "x04_language_id",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, {_toks_sql('text')} AS toks, text
        FROM documents
    ),
    scored AS (
        SELECT
            doc_id, lang,
            text IS NULL AS no_text,
            (regexp_extract(text, '[\\x{{4e00}}-\\x{{9fff}}]') <> '')
                AS has_cjk,
            {_profile_score_sql(_PROFILES['en'])} AS s_en,
            {_profile_score_sql(_PROFILES['es'])} AS s_es,
            {_profile_score_sql(_PROFILES['de'])} AS s_de,
            {_profile_score_sql(_PROFILES['fr'])} AS s_fr
        FROM t
    ),
    guessed AS (
        SELECT doc_id, lang,
               CASE
                   WHEN no_text THEN NULL
                   WHEN has_cjk THEN 'zh'
                   WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr
                       THEN 'en'
                   WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                   WHEN s_de >= s_fr THEN 'de'
                   ELSE 'fr'
               END AS guessed_lang
        FROM scored
    )
    SELECT doc_id, lang, guessed_lang, (guessed_lang = lang) AS guess_correct
    FROM guessed
    """,
    tags=("text", "X4", "langid"),
)
def x04_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4c: heuristic language ID — CJK codepoint probe + stopword voting.

    zh detection by Unicode block; alphabetic languages by argmax over
    stopword-profile hit counts with a deterministic preference order on
    ties. The oracle runs the identical decision tree, so the gate
    verifies the classifier's implementation end-to-end.

    Regex-dialect note (adversarial-sweep finding): Java regex takes
    the CJK block as ``[\\u4e00-\\u9fff]`` but DuckDB's RE2 does NOT
    support ``\\uXXXX`` — it needs ``[\\x{4e00}-\\x{9fff}]``; the
    old oracle spelling silently never matched, which the fixtures
    (whose "zh" docs are ASCII word salads) could not reveal — only
    a corpus with REAL CJK text fires the branch on both engines.
    """
    docs = table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    scored = docs.select(
        "doc_id",
        "lang",
        # NULL text -> NULL guess: a language-id stage must say
        # "unknown", not fall through the vote tree to a default.
        F.col("text").isNull().alias("no_text"),
        (F.regexp_extract(F.col("text"), "[\\u4e00-\\u9fff]", 0) != "").alias(
            "has_cjk"
        ),
        _profile_score(toks, _PROFILES["en"]).alias("s_en"),
        _profile_score(toks, _PROFILES["es"]).alias("s_es"),
        _profile_score(toks, _PROFILES["de"]).alias("s_de"),
        _profile_score(toks, _PROFILES["fr"]).alias("s_fr"),
    )
    guess = (
        F.when(F.col("no_text"), F.lit(None).cast("string"))
        .when(F.col("has_cjk"), F.lit("zh"))
        .when(
            (F.col("s_en") >= F.col("s_es"))
            & (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_fr")),
            F.lit("en"),
        )
        .when(
            (F.col("s_es") >= F.col("s_de")) & (F.col("s_es") >= F.col("s_fr")),
            F.lit("es"),
        )
        .when(F.col("s_de") >= F.col("s_fr"), F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    return scored.select(
        "doc_id",
        "lang",
        guess.alias("guessed_lang"),
        (guess == F.col("lang")).alias("guess_correct"),
    )


@register(
    "x04_quality_filter",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, n_chars, {_toks_sql('text')} AS toks
        FROM documents
    ),
    feat AS (
        SELECT
            doc_id, lang, n_chars,
            len(toks) AS n_tokens,
            {_TTR_SQL} AS ttr,
            {_STOP_RATIO_SQL} AS stop_ratio
        FROM t
    )
    SELECT
        doc_id,
        lang,
        round((
            least(n_tokens / 50.0, 1.0) * 0.4
            + least(stop_ratio / 0.08, 1.0) * 0.3
            + ttr * 0.3
        ) * 10000.0) / 10000.0 AS quality_score,
        ({_KEEP_SQL}) AS keep
    FROM feat
    """,
    tags=("text", "X4", "quality"),
)
def x04_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4f: composite quality score + keep/drop decision (the filter stage).

    Weighted blend of length, stopword density, and lexical diversity —
    the standard heuristic-filter shape for pretraining corpora (the
    exact weights are policy, the PLUMBING is the operator). ``keep`` is
    the hard gate a pipeline would filter on; emitting it as a column
    (rather than filtering here) lets the gate audit both kept and
    dropped populations.
    """
    docs = table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    feat = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        nsize(toks).alias("n_tokens"),
        _ttr(toks).alias("ttr"),
        _stop_ratio(toks).alias("stop_ratio"),
    )
    score = (
        F.least(F.col("n_tokens") / 50.0, F.lit(1.0)) * 0.4
        + F.least(F.col("stop_ratio") / 0.08, F.lit(1.0)) * 0.3
        + F.col("ttr") * 0.3
    )
    return feat.select(
        "doc_id",
        "lang",
        dround(score, 4).alias("quality_score"),
        _keep().alias("keep"),
    )


@register(
    "x04_quality_percentile_gate",
    oracle="""
    WITH thr AS (
        SELECT source, quantile_cont(n_chars, 0.25) AS q25
        FROM documents GROUP BY source
    )
    SELECT d.doc_id, d.source, d.n_chars, thr.q25 AS q25_chars
    FROM documents d JOIN thr USING (source)
    WHERE d.n_chars >= thr.q25
    """,
    tags=("text", "X4", "quality", "adaptive"),
)
def x04_quality_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4f': ADAPTIVE quality gate — per-source percentile threshold.

    Fixed thresholds (``x04_quality_filter``) mis-cut heterogeneous
    corpora: a length floor tuned for web text deletes half of a
    short-form source. The adaptive form computes the cutoff per source
    from the data itself — here "drop each source's bottom quartile by
    length" — which is how production curation actually sets thresholds
    (per-source/per-language quantiles, re-derived on every corpus
    build).

    Cross-engine determinism: Spark's exact ``percentile`` and DuckDB's
    ``quantile_cont`` both linearly interpolate at rank p·(n−1), and the
    inputs are INTEGERS at quartile points — the interpolated value is
    k + f with f ∈ {0, .25, .5, .75}, exactly representable, so BOTH
    interpolation spellings (symmetric ``lo·(1−f)+hi·f``, which DuckDB
    uses, and ``lo + (hi−lo)·f``) are exact here and the gate
    comparison can never straddle an ulp. For non-integer inputs the
    two spellings differ in the last ulp — see ``x03_ivf_topk``'s
    docstring before writing a new percentile oracle.

    Scale shape: one map-side-combined aggregate to |sources| rows, the
    thresholds broadcast back onto the corpus scan, and the gate is a
    codegen comparison — the corpus itself never shuffles (same shape as
    ``x04_mixing_rebalance``). At 100 TB swap the exact percentile for
    ``approx_percentile`` (mergeable sketch) without touching the join.
    """
    docs = table(spark, sf_dir, "documents")
    thr = docs.groupBy("source").agg(
        F.percentile(F.col("n_chars"), F.lit(0.25)).alias("q25")
    )
    return (
        docs.join(F.broadcast(thr), "source")
        .filter(F.col("n_chars") >= F.col("q25"))
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.col("q25").alias("q25_chars"),
        )
    )


@register(
    "x04_token_count",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang,
               len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]'))
                   AS n_wordish,
               len({_toks_sql('text')}) AS n_whitespace,
               length(text) AS n_chars
        FROM documents
    )
    SELECT
        doc_id,
        lang,
        n_whitespace,
        n_wordish,
        CAST(ceil(n_chars / 4.0) AS BIGINT) AS n_tokens_estimate,
        round(n_chars::DOUBLE / greatest(n_wordish, 1) * 10000.0) / 10000.0
            AS chars_per_token
    FROM t
    """,
    tags=("text", "X4", "tokens"),
)
def x04_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4e: token counting — whitespace, BPE-ish regex, and chars/4 estimate.

    Three counters a data-mixing pipeline budget uses: whitespace words,
    a BPE-flavored regex segmentation (alphanumeric runs + individual
    punctuation/CJK marks — the pre-tokenizer split every BPE vocab
    applies), and the chars/4 LLM-token rule of thumb. All in one narrow
    projection; the regex runs once per row inside codegen.
    """
    docs = table(spark, sf_dir, "documents")
    wordish = F.expr(
        r"regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]', 0)"
    )
    n_wordish = nsize(wordish)
    return docs.select(
        "doc_id",
        "lang",
        nsize(tokens(F.col("text"))).alias("n_whitespace"),
        n_wordish.alias("n_wordish"),
        F.ceil(F.length("text") / 4.0).cast("long").alias("n_tokens_estimate"),
        dround(
            F.length("text").cast("double") / F.greatest(n_wordish, F.lit(1)),
            4,
        ).alias("chars_per_token"),
    )


@register(
    "x04_fingerprint",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_toks_sql('text')} AS toks FROM documents
    )
    SELECT
        doc_id,
        CASE WHEN toks IS NULL THEN NULL ELSE
        list_reduce(
            list_prepend(
                CAST(0 AS BIGINT),
                list_transform(toks, tok -> {_char_hash_sql('tok')})
            ),
            {_ROLL_SQL}
        ) END AS fingerprint,
        len(toks) AS n_tokens
    FROM t
    """,
    tags=("text", "X4", "fingerprint"),
)
def x04_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4d: polynomial rolling-hash document fingerprint.

    Two-level rolling hash (chars → token hash → doc hash), all modular
    arithmetic in int64 (the rolling hash of the module docstring).
    Order-sensitive by construction: a fingerprint equality IS a
    same-token-stream statement, unlike the set-based MinHash. Pure
    higher-order functions on both engines.
    """
    docs = table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    tok_hash = F.transform(toks, _char_hash)
    doc_hash = F.aggregate(tok_hash, F.lit(0).cast("long"), _roll)
    return docs.select(
        "doc_id",
        doc_hash.alias("fingerprint"),
        nsize(toks).alias("n_tokens"),
    )


@register(
    "x04_hash_sample",
    oracle=f"""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE {_md5_int_sql(8)} % 20 = 0
    """,
    tags=("sampling", "X4"),
)
def x04_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 1-in-20 corpus sample by key hash.

    Training pipelines sample for eval splits, ablations, and dev loops —
    and the sample must be REPRODUCIBLE across runs, engines, and corpus
    repartitioning, which ``df.sample()`` (seeded per-partition RNG) is
    not. Hashing the key instead makes membership a pure function of the
    row: ``md5(doc_id) % 20 == 0``. Both engines implement md5 bit-
    identically, so the oracle pins exact sample membership, not just the
    rate. Stateless, shuffle-free, trivially pushdown-friendly — at
    100 TB the sample is one codegen'd filter over the scan, and the same
    predicate in a WHERE clause drives partial reads from any SQL engine
    over the same lake.
    """
    docs = table(spark, sf_dir, "documents")
    return docs.filter(_md5_int(8) % 20 == 0).select(
        "doc_id", "lang", "source", "n_chars"
    )


@register(
    "x04_stratified_sample",
    oracle=f"""
    WITH rated AS (
        SELECT doc_id, lang, source, n_chars,
               CASE lang WHEN 'en' THEN 2 WHEN 'de' THEN 5
                         WHEN 'es' THEN 5 ELSE 10 END AS keep_1_in,
               {_md5_int_sql(8)} AS h
        FROM documents
    )
    SELECT doc_id, lang, source, n_chars
    FROM rated WHERE h % keep_1_in = 0
    """,
    tags=("sampling", "X4", "stratified"),
)
def x04_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic STRATIFIED sample: per-language keep rates by key hash.

    The language-rebalancing op every multilingual training mix needs:
    downsample the dominant strata harder (en keeps 1-in-2, de/es 1-in-5,
    tail languages 1-in-10) while membership stays a pure function of the
    key — reproducible across runs, engines, and repartitioning, unlike
    ``df.sampleBy`` (per-partition RNG). Same md5 bucket as
    ``x04_hash_sample``; the rate map rides as a CASE expression, so the
    whole operator is one codegen'd filter over the scan — no shuffle, no
    state, and the identical WHERE clause reproduces the split anywhere.
    """
    docs = table(spark, sf_dir, "documents")
    keep_1_in = (
        F.when(F.col("lang") == "en", 2)
        .when(F.col("lang").isin("de", "es"), 5)
        .otherwise(10)
    )
    return docs.filter(_md5_int(8) % keep_1_in == 0).select(
        "doc_id", "lang", "source", "n_chars"
    )


@register(
    "x04_sequence_packing",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, coalesce(len({_toks_sql('text')}), 0) AS n_tokens
        FROM documents
    ),
    {_pack_sql('toks')}
    """,
    tags=("text", "X4", "packing"),
)
def x04_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4j: sequence packing — concat-and-chunk bin assignment.

    The pretraining data-prep step after dedup/filtering: documents are
    concatenated in a deterministic order and cut into fixed
    token-budget bins, so each doc gets (bin_id, bin_offset) — docs
    straddling a boundary spill into the next bin, which is exactly
    concat-and-chunk training semantics.

    Scale shape: packing is per-SHARD (:func:`_pack`), not global — a
    single global running sum would serialize the corpus through one
    partition, while per-shard windows are one hash shuffle and
    embarrassingly parallel, which is how a distributed packer actually
    shards work. Shard count scales with the cluster; the window sort is
    per-shard and spills gracefully.
    """
    docs = table(spark, sf_dir, "documents")
    # NULL text packs zero tokens (the doc still occupies its slot in
    # the deterministic doc_id order, shifting nothing).
    return _pack(docs, F.coalesce(nsize(tokens(F.col("text"))), F.lit(0)))


@register(
    "x04_ngram_vocab",
    oracle=f"""
    WITH t AS (SELECT {_toks_sql('text')} AS toks FROM documents),
    grams AS (SELECT unnest({_BIGRAMS_SQL}) AS bigram FROM t)
    SELECT bigram, count(*) AS n
    FROM grams
    GROUP BY bigram
    ORDER BY n DESC, bigram ASC
    LIMIT 50
    """,
    tags=("text", "X4", "vocab"),
)
def x04_ngram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4k: corpus-level bigram vocabulary (tokenizer-training input).

    Top-50 bigrams by frequency with a deterministic tiebreak — the
    counting pass a BPE/wordpiece trainer starts from. Explode to
    bigrams, one map-side-combined count aggregate (shuffle moves
    |vocab| partial counts, not tokens), then TakeOrderedAndProject for
    the cutoff — no global sort of the vocabulary.
    """
    docs = table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    # bigram_i = tok_i || ' ' || tok_{i+1}: zip the array with itself
    # shifted by one — stays codegen'd, no posexplode self-join.
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(
            toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))
        ),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(50)
    )


@register(
    "x04_length_histogram",
    oracle="""
    SELECT
        CAST(least(floor(n_chars / 100.0), 10) AS BIGINT) AS bucket,
        count(*) AS n_docs,
        min(n_chars) AS min_chars,
        max(n_chars) AS max_chars,
        round((sum(n_chars)::DOUBLE / count(*)) * 100.0) / 100.0
            AS avg_chars
    FROM documents
    GROUP BY 1
    """,
    tags=("stats", "X4", "histogram"),
)
def x04_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length histogram: fixed-width buckets with a tail cap.

    The length profile drives truncation/packing decisions in a training
    pipeline (sequence-length budgeting). 100-char buckets, everything
    past 1000 pooled into the cap bucket — a single map-side-combined
    aggregate whose shuffle moves |buckets| rows, so the histogram costs
    one corpus scan at any size.
    """
    docs = table(spark, sf_dir, "documents")
    bucket = F.least(F.floor(F.col("n_chars") / 100.0), F.lit(10)).cast("long")
    return (
        docs.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            # Exact-sum/count, not avg(): integral input summed as
            # double inside Average is partition-order-sensitive.
            dround(F.sum("n_chars").cast("double") / F.count("*")).alias(
                "avg_chars"
            ),
        )
    )


@register(
    "pipeline_training_prep",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, text, n_chars, {_toks_sql('text')} AS toks
        FROM documents
    ),
    feat AS (
        SELECT doc_id, text, n_chars,
               len(toks) AS n_tokens,
               {_TTR_SQL} AS ttr
        FROM t
    ),
    kept AS (SELECT * FROM feat WHERE {_KEEP_SQL}),
    dedup AS (
        SELECT min(doc_id) AS doc_id, min(n_tokens) AS n_tokens
        FROM kept GROUP BY text
    ),
    {_pack_sql('dedup')}
    """,
    tags=("pipeline", "X4", "training-prep", "composition"),
)
def pipeline_training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data prep: quality gate → dedup → packing.

    The composed workload a pretraining pipeline actually runs, as ONE
    DataFrame chain the optimizer sees whole:

    1. quality gate — the ``x04_quality_filter`` hard criteria
       (:func:`_keep`), a narrow codegen projection + filter over the
       scan;
    2. exact content dedup — groupBy ``sha2(text)``, survivor = min
       doc_id (one shuffle of 32-byte hashes + counts, never text);
    3. sequence packing — ``x04_sequence_packing``'s per-shard
       concat-and-chunk bins (:func:`_pack`) over the surviving docs
       (one window shuffle by shard).

    Two shuffles end to end, both over reduced streams; each stage's
    semantics are individually oracle-pinned by their standalone
    entries, and this entry pins the COMPOSITION (stage order matters:
    packing offsets depend on exactly which docs survive).

    The near-dup stage is deliberately not in the composed chain: its
    banding sub-pipeline is oracle-checked standalone
    (``x02_minhash_lsh_neardup``, ``x02_incremental_neardup``) and at
    scale it runs as its own amortized index job between filter and
    pack, not inline per batch.
    """
    docs = table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_toks = F.size(toks)
    feat = docs.select(
        "doc_id",
        "text",
        "n_chars",
        n_toks.alias("n_tokens"),
        (F.size(F.array_distinct(toks)).cast("double") / n_toks).alias(
            "ttr"
        ),
    )
    kept = feat.filter(_keep())
    dedup = (
        kept.groupBy(F.sha2(F.col("text"), 256).alias("__h"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min("n_tokens").alias("n_tokens"),
        )
        .drop("__h")
    )
    return _pack(dedup, F.col("n_tokens"))


@register(
    "x04_decontamination",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(w[gs.i:gs.i+5], '_') AS shingle
        FROM toks CROSS JOIN LATERAL (
            SELECT unnest(range(1, greatest(len(w) - 4, 2))) AS i
        ) gs
    ),
    eval_sh AS (
        SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0
    ),
    hits AS (
        SELECT s.doc_id, count(*) AS n_hits
        FROM sh s JOIN eval_sh e ON s.shingle = e.shingle
        WHERE s.doc_id % 50 <> 0
        GROUP BY 1
    )
    SELECT doc_id, n_hits, (n_hits >= 3) AS contaminated
    FROM hits
    """,
    tags=("text", "X4", "decontamination"),
)
def x04_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4l: benchmark decontamination — eval-set n-gram overlap scan.

    The pretraining hygiene step dedup does NOT cover: a corpus doc that
    merely QUOTES benchmark material (low Jaccard, high local overlap)
    must still be dropped before training. Docs with doc_id % 50 == 0
    stand in for the benchmark/eval set; every other doc is scored by
    how many distinct 6-gram shingles it shares with ANY eval doc, and
    ``contaminated`` flags ≥ 3 overlapping shingles (the n-gram-overlap
    rule used in practice).

    Scale shape: the eval side is tiny by construction (benchmarks are
    KBs, corpora are TBs) — its distinct-shingle set broadcasts, so the
    corpus-side scan is one pass with a broadcast-hash semi-probe and a
    per-doc count aggregate. No corpus×corpus anything.
    """
    from .dedup import shingles

    docs = table(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % 50 == 0
    sh = shingles(docs, n=6)
    eval_sh = (
        sh.filter(is_eval).select("shingle").dropDuplicates()
    )
    corpus_sh = sh.filter(~is_eval)
    hits = (
        corpus_sh.join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return hits.select(
        "doc_id", "n_hits", (F.col("n_hits") >= 3).alias("contaminated")
    )


#: BM25 parameters (the standard Robertson/Okapi defaults) and the fixed
#: demo query. Scores are emitted as scaled BIGINTs (x 1e4) so per-doc
#: totals sum in exact integer arithmetic — no cross-engine float
#: reassociation can diverge.
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TERMS = ("spark", "join", "window")


@register(
    "x04_bm25_scores",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_toks_sql('text')} AS toks FROM documents),
    tok AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS token FROM t),
    tf AS (
        SELECT doc_id, dl, token, count(*) AS tf
        FROM tok
        WHERE token IN {_BM25_TERMS}
        GROUP BY 1, 2, 3
    ),
    stats AS (SELECT count(*) AS n, sum(len(toks)) AS sum_dl FROM t),
    df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
    scored AS (
        SELECT
            tf.doc_id,
            tf.token,
            CAST(round(
                ln(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5))
                * (tf.tf * ({_BM25_K1} + 1.0))
                / (tf.tf + {_BM25_K1}
                   * ((1.0 - {_BM25_B})
                      + {_BM25_B}
                        * (tf.dl / (CAST(stats.sum_dl AS DOUBLE)
                                    / stats.n))))
                * 10000.0) AS BIGINT) AS term_score_e4
        FROM tf, stats
        JOIN df ON tf.token = df.token
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_terms,
           CAST(sum(term_score_e4) AS BIGINT) AS score_e4
    FROM scored
    GROUP BY doc_id
    """,
    tags=("text", "X4", "bm25"),
)
def x04_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: BM25 relevance scoring — the lexical-retrieval workhorse.

    Scores every corpus doc against a fixed term query with
    Okapi BM25 (k1=1.2, b=0.75, the standard defaults): per-term
    idf = ln(1 + (N - df + 0.5)/(df + 0.5)) damped by the saturating
    tf normalization with doc-length penalty dl/avgdl. This is the
    scoring half of a BM25 index build — the retrieval sibling of
    ``x04_tfidf`` (whose weights feed ranking rather than search) and
    the lexical complement of the X3 vector search family; training
    pipelines use exactly this op for quality-targeted data selection
    (retrieve corpus docs matching seed queries).

    Float-parity discipline: each per-(doc, term) score is rounded to a
    scaled BIGINT *before* the per-doc sum, so aggregation is exact
    integer math — the one cross-engine risk left is a sub-ulp ln()
    difference landing exactly on a .5 rounding boundary, which the
    1e4 scale makes measure-zero. avgdl derives from an exact integer
    (sum_dl, n) pair, divided once, identically parenthesized on both
    engines.

    Scale shape: tokens are filtered to the query terms BEFORE any
    shuffle (the `isin` prunes inside the explode projection), so the
    (doc, term) aggregate shuffles only matching term hits — for a
    3-term query that is a vanishing fraction of a 100 TB corpus. The
    df table (<= |query| rows) and the 1-row corpus stats broadcast;
    the corpus-side stream is shuffled once, on the high-cardinality
    (doc_id, token) composite. Measured 10×-docs curve: SCALE.md.
    """
    docs = table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    tok = docs.select(
        "doc_id",
        nsize(toks).alias("dl"),
        F.explode(toks).alias("token"),
    ).filter(F.col("token").isin(*_BM25_TERMS))
    tf = tok.groupBy("doc_id", "dl", "token").agg(F.count("*").alias("tf"))
    stats = docs.agg(
        F.count("*").alias("n"), F.sum(nsize(toks)).alias("sum_dl")
    )
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    avgdl = F.col("sum_dl").cast("double") / F.col("n")
    idf = F.log(
        1.0 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + _BM25_K1 * (
        (1.0 - _BM25_B) + _BM25_B * (F.col("dl") / avgdl)
    )
    scored = (
        tf.join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "token",
            F.round(idf * (F.col("tf") * (_BM25_K1 + 1.0)) / denom * 10000.0)
            .cast("bigint")
            .alias("term_score_e4"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_terms"),
        F.sum("term_score_e4").cast("bigint").alias("score_e4"),
    )


@register(
    "x04_lm_quality_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_toks_sql('text')} AS toks FROM documents),
    bg AS (
        SELECT doc_id, unnest({_BIGRAMS_SQL}) AS bigram
        FROM t
        WHERE len(toks) >= 2
    ),
    doc_bg AS (
        SELECT doc_id, bigram, count(*) AS n_occ FROM bg GROUP BY 1, 2
    ),
    c12 AS (SELECT bigram, count(*) AS c12 FROM bg GROUP BY 1),
    c1 AS (
        SELECT string_split(bigram, ' ')[1] AS w1, sum(c12) AS c1
        FROM c12 GROUP BY 1
    ),
    v AS (
        SELECT count(DISTINCT tok) AS vocab
        FROM (SELECT unnest(toks) AS tok FROM t)
    ),
    stats AS (
        SELECT c12.bigram,
               CAST(round(ln(
                   (c12.c12 + 1.0)
                   / (c1.c1 + v.vocab)) * 1000000.0) AS BIGINT)
                   AS logp_e6
        FROM c12, v
        JOIN c1 ON string_split(c12.bigram, ' ')[1] = c1.w1
    )
    SELECT d.doc_id,
           CAST(sum(d.n_occ) AS BIGINT) AS n_bigrams,
           CAST(sum(d.n_occ * s.logp_e6) AS BIGINT) AS total_logp_e6
    FROM doc_bg d JOIN stats s ON d.bigram = s.bigram
    GROUP BY 1
    """,
    tags=("text", "X4", "lm-quality"),
)
def x04_lm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: bigram language-model quality scoring (KenLM-filter analog).

    The model-based quality gate pretraining pipelines run beside the
    heuristic one (``x04_quality_filter``): train an add-one-smoothed
    bigram LM on the corpus itself, then score every doc by its total
    log-likelihood — CCNet ranks web text exactly this way with a
    Wikipedia-trained KenLM, and low-likelihood docs are gibberish or
    boilerplate. P(w2|w1) = (c(w1 w2) + 1) / (c(w1·) + |V|), where
    c(w1·) is w1's bigram-context count and |V| the corpus vocabulary.

    Float-parity discipline: each distinct bigram's ln-probability is
    rounded ONCE to an e6-scaled BIGINT in the model table; per-doc
    totals are then exact integer sums weighted by occurrence counts —
    no cross-row float accumulation anywhere. Division of the total by
    n_bigrams is left to the consumer (integer division of negatives
    truncates differently across engines — the raw pair is the stable
    contract).

    Scale shape: the corpus tokenizes twice (model counts + doc
    scoring) — both narrow scans; the model table is vocabulary²-
    bounded (≪ corpus, here ~900 rows) so the scoring join broadcasts;
    the only corpus-keyed shuffles are the (doc, bigram) aggregate and
    the per-doc rollup. At 100 TB the model would be trained on a
    sample or a held-out reference corpus — the scoring side is
    unchanged either way.
    """
    docs = table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    t = docs.select("doc_id", toks.alias("toks")).filter(
        F.size("toks") >= 2
    )
    # A posexplode+element_at bigram form was tried first and measured
    # SLOWER than the HOF: the generator re-materializes the whole token
    # array per output row.
    bg = t.select("doc_id", F.explode(_bigram_zip()).alias("p")).select(
        "doc_id", _bigram().alias("bigram")
    )
    doc_bg = bg.groupBy("doc_id", "bigram").agg(F.count("*").alias("n_occ"))
    c12 = bg.groupBy("bigram").agg(F.count("*").alias("c12"))
    c1 = (
        c12.groupBy(F.split(F.col("bigram"), " ")[0].alias("w1"))
        .agg(F.sum("c12").alias("c1"))
    )
    vocab = (
        docs.select("doc_id", toks.alias("toks"))
        .select(F.explode("toks").alias("tok"))
        .agg(F.countDistinct("tok").alias("vocab"))
    )
    stats = (
        c12.join(
            c1, F.split(c12["bigram"], " ")[0] == c1["w1"]
        )
        .crossJoin(F.broadcast(vocab))
        .select(
            "bigram",
            F.round(
                F.log(
                    (F.col("c12") + 1.0) / (F.col("c1") + F.col("vocab"))
                )
                * 1000000.0
            )
            .cast("bigint")
            .alias("logp_e6"),
        )
    )
    return (
        doc_bg.join(F.broadcast(stats), "bigram")
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").cast("bigint").alias("n_bigrams"),
            F.sum(F.col("n_occ") * F.col("logp_e6"))
            .cast("bigint")
            .alias("total_logp_e6"),
        )
    )


@register(
    "x04_readability",
    oracle=f"""
    WITH t AS (
        SELECT
            doc_id,
            lang,
            greatest(len({_toks_sql('text')}), 1) AS n_words,
            greatest(len(regexp_split_to_array(text, '[.!?]+')) - 1, 1)
                AS n_sentences,
            greatest(len(regexp_split_to_array(text, '[aeiouyAEIOUY]+')) - 1,
                     1) AS n_syllables
        FROM documents
    )
    SELECT
        doc_id,
        lang,
        CAST(n_words AS BIGINT) AS n_words,
        CAST(n_sentences AS BIGINT) AS n_sentences,
        CAST(n_syllables AS BIGINT) AS n_syllables,
        CAST(round((206.835
                    - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                    - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words))
                   * 100.0) AS BIGINT) AS flesch_e2
    FROM t
    """,
    tags=("text", "X4", "quality"),
)
def x04_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: Flesch-style readability scoring — a model-free quality signal.

    Reading-ease formulas are a standard cheap curation feature (used
    alongside stopword/punctuation ratios in C4-style quality stacks):
    texts that score implausibly high or low are boilerplate, tables, or
    garbled extractions. Syllables are approximated as vowel-group runs
    (``[aeiouyAEIOUY]+`` — case-insensitive by class, not by lower();
    see the inline note) — the classic heuristic; sentence count as
    terminator runs (``[.!?]+``). Both are REGEX-RUN counts computed as
    ``len(split) - 1``, a formulation whose trailing-separator edge
    cases agree between Java regex split (limit -1) and DuckDB's
    ``regexp_split_to_array``.

    Float discipline: counts are exact integers in both engines, the
    Flesch score is one identical IEEE double expression over those
    integers, emitted as a scaled BIGINT (multiply-then-round).

    Scale shape: pure per-row projection — regex work rides the scan in
    codegen, no shuffle, no state, no Python. Denominators floor at 1 so
    empty/degenerate docs score rather than divide by zero.
    """
    docs = table(spark, sf_dir, "documents")
    n_words = F.greatest(F.size(tokens(F.col("text"))), F.lit(1))
    n_sentences = F.greatest(
        F.size(F.split(F.col("text"), r"[.!?]+", -1)) - 1, F.lit(1)
    )
    # Case-insensitive vowel class instead of lower(text): lower() is
    # locale-sensitive above ASCII (Java expands U+0130 'İ' to
    # "i"+U+0307, splitting a vowel run that DuckDB's 1:1 utf8proc
    # mapping keeps joined — r16 unicode wave, same class as the
    # canonicalized-dedup fix). [aeiouyAEIOUY]+ is byte-identical on
    # ASCII and engine-portable everywhere.
    n_syllables = F.greatest(
        F.size(F.split(F.col("text"), r"[aeiouyAEIOUY]+", -1)) - 1, F.lit(1)
    )
    t = docs.select(
        "doc_id",
        "lang",
        n_words.cast("bigint").alias("n_words"),
        n_sentences.cast("bigint").alias("n_sentences"),
        n_syllables.cast("bigint").alias("n_syllables"),
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015)
        * (F.col("n_words").cast("double") / F.col("n_sentences"))
        - F.lit(84.6)
        * (F.col("n_syllables").cast("double") / F.col("n_words"))
    )
    return t.select(
        "doc_id",
        "lang",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(flesch * 100.0).cast("bigint").alias("flesch_e2"),
    )


#: Feature-hashing dimensionality (x04_feature_hashing): 64 buckets to
#: match the corpus embedding width — the hashed-BoW vector drops into
#: the same similarity tooling.
_FH_DIMS = 64


@register(
    "x04_feature_hashing",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, unnest({_toks_sql('text')}) AS tok FROM documents
    ),
    hashed AS (
        SELECT doc_id, {_char_hash_sql('tok')} % {_FH_DIMS} AS dim
        FROM t
    )
    SELECT doc_id, CAST(dim AS BIGINT) AS dim,
           CAST(count(*) AS BIGINT) AS tf
    FROM hashed
    GROUP BY doc_id, dim
    """,
    tags=("text", "X4", "feature-hashing"),
)
def x04_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: feature hashing (the hashing trick) — text → sparse vector.

    The bridge from the text world to the vector world without a learned
    embedding or a vocabulary table: each token hashes straight to one
    of 64 dimensions (same rolling char hash as the fingerprint
    op, then a modulus), and the document's sparse bag-of-words vector
    is the per-(doc, dim) term-frequency — emitted long-form, the
    storage shape sparse-vector tooling consumes. Collisions are the
    accepted trade (that IS the hashing trick); no vocabulary state
    means no vocabulary shuffle, no OOV handling, and identical vectors
    from any engine that implements the hash.

    Scale shape: one token-stream explode riding the scan (hash in
    codegen higher-order functions, zero Python), then one map-side-
    combinable (doc, dim) count — the same two-step as term_frequency
    but with a fixed 64-way key space on the second level. No joins,
    no vocabulary broadcast, nothing driver-side.
    """
    docs = table(spark, sf_dir, "documents")
    tok = F.explode(tokens(F.col("text"))).alias("tok")
    t = docs.select("doc_id", tok)
    hashed = t.select(
        "doc_id", (_char_hash(F.col("tok")) % _FH_DIMS).alias("dim")
    )
    return hashed.groupBy("doc_id", F.col("dim").cast("bigint").alias("dim")).agg(
        F.count("*").cast("bigint").alias("tf")
    )


#: Weighted-sample geometry: sample size, hex digits of md5 used as the
#: 48-bit uniform, and the (2^48 + 1) denominator that keeps u in (0,1).
_WS_N = 100
_WS_DENOM = 281474976710657.0


@register(
    "x04_weighted_sample",
    oracle=f"""
    WITH pri AS (
        SELECT doc_id, source, n_chars,
               CAST(round(
                   ln(({_md5_int_sql(12)} + 1) / {_WS_DENOM!r})
                   / greatest(n_chars, 1) * 1000000.0) AS BIGINT)
                   AS key_e6
        FROM documents
    )
    SELECT CAST(rank AS BIGINT) AS rank, doc_id, source, n_chars, key_e6
    FROM (
        SELECT doc_id, source, n_chars, key_e6,
               row_number() OVER (
                   ORDER BY key_e6 DESC, doc_id ASC
               ) AS rank
        FROM pri
    )
    WHERE rank <= {_WS_N}
    """,
    tags=("curation", "X4", "sampling", "weighted"),
)
def x04_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    A-ES) — the curation primitive rate/cap sampling can't express:
    pick 100 docs with inclusion probability proportional to a
    per-doc weight (here ``n_chars``, i.e. a token-budget-proportional
    draw; swap in a quality score unchanged).

    A-ES: each doc gets priority u^(1/w) for u ~ Uniform(0,1); the
    top-N priorities ARE a weight-proportional sample without
    replacement — one pass, no sequential state, merge = top-N, which
    is what makes it THE distributed weighted sampler. Determinism
    discipline: u derives from md5(doc_id) (identical digests on both
    engines, 48 bits via the shared hex-to-int parse, +1 over 2^48+1
    keeps u strictly inside (0,1)); the monotone-equivalent key
    ln(u)/w is the one libm call, rounded ONCE to e6 (the
    x04_lm_quality_score precedent — ulp-level ln divergence is ~1e-11
    of an e6 unit here, 10 orders below the rounding step).

    Scale shape: priority is a narrow map-side projection riding the
    scan (md5 + one ln per row, no shuffle); the top-100 runs as
    distributed TakeOrderedAndProject (never a global sort — the
    q04_topk contract); the rank window orders only the 100
    surviving rows. Merge-compatibility means the same plan shape
    holds per-partition at any fleet size.
    """
    docs = table(spark, sf_dir, "documents")
    u = (_md5_int(12) + F.lit(1)) / F.lit(_WS_DENOM)
    key_e6 = (
        F.round(
            F.log(u)
            / F.greatest(F.col("n_chars"), F.lit(1))
            * 1000000.0
        )
        .cast("bigint")
        .alias("key_e6")
    )
    pri = docs.select("doc_id", "source", "n_chars", key_e6)
    top = pri.orderBy(F.col("key_e6").desc(), F.col("doc_id").asc()).limit(
        _WS_N
    )
    w = Window.orderBy(F.col("key_e6").desc(), F.col("doc_id").asc())
    return top.withColumn(
        "rank", F.row_number().over(w).cast("bigint")
    ).select("rank", "doc_id", "source", "n_chars", "key_e6")
