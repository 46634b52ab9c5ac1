"""Round-14 pins: NULL join/grouping-key corpora (r13 verdict item 5)
and the divergence the first source sweep caught.

The round-13 nullity axis nulled VALUE columns (events.value/ts/user_id,
documents.text); round 14 nulls the KEYS the x04/q21 surfaces group and
join on — documents.lang, documents.source, orders.o_custkey. All three
are contract-legal (none is a declared primary key), and the source
corpus immediately caught a real divergence class: Spark's
``concat_ws`` flattens a NULL array to ``''`` (so ``md5`` emits
d41d8cd9... for a row whose augmented text is NULL) while the oracle's
``array_to_string(NULL)`` stays NULL. The three corpora now sit in the
standing gate (``tools/degenerate_gate.py``); these tests pin the fixed
value semantics directly so the finding can't regress even outside a
gate run.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

from conftest import SF_DIR
from reddit_data_engineering_project_spark import registry
from reddit_data_engineering_project_spark.tables import table

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
)

registry.load_all_operators()


def test_null_source_corpus_curation_md5_is_null_not_empty_hash(
    spark, tmp_path
):
    """With documents.source all NULL, every curated row's augmented
    text is NULL (Spark concat propagates), so first_chunk_md5 must be
    NULL — never md5('') = d41d8cd98f00b204e9800998ecf8427e, which is
    what concat_ws-on-NULL-array produced before the fix. Rows still
    pass the repetition gate (text is intact), so the pipeline keeps
    its row count."""
    import degenerate_corpus as deg

    out = str(tmp_path / "null_source")
    deg.write_null_column(
        SF_DIR, out, "source", "documents"
    )
    rows = registry.QUERIES["pipeline_curation_full"](spark, out).collect()
    assert rows, "repetition gate should keep text-intact rows"
    assert all(r.first_chunk_md5 is None for r in rows)
    assert all(r.n_tokens is None and r.n_chunks is None for r in rows)
    # and on the committed corpus the hash is real, never the
    # empty-string sentinel
    committed = registry.QUERIES["pipeline_curation_full"](
        spark, SF_DIR
    ).collect()
    empty_md5 = "d41d8cd98f00b204e9800998ecf8427e"
    assert all(
        r.first_chunk_md5 is not None and r.first_chunk_md5 != empty_md5
        for r in committed
    )


def test_null_key_corpora_hash_match_representative_entries(
    spark, tmp_path
):
    """One representative entry per new corpus hash-matches its oracle
    on the degenerate inputs: NULL lang forms ONE group on both
    engines (x04_language_id compares detected vs declared), NULL
    source stratifies into one NULL stratum (x04_stratified_sample),
    and NULL o_custkey makes the star join's fact rows matchless on
    both engines (q10_star_report)."""
    import degenerate_corpus as deg
    from check_oracle import _check_entry, _oracle_db

    specs = [
        ("lang", "documents", "x04_language_id"),
        ("source", "documents", "x04_stratified_sample"),
        ("o_custkey", "orders", "q10_star_report"),
    ]
    for col, tbl, entry in specs:
        out = str(tmp_path / f"null_{col}")
        deg.write_null_column(SF_DIR, out, col, tbl)
        con = _oracle_db(out)
        try:
            _, problems = _check_entry(spark, con, entry, out)
        finally:
            con.close()
        assert not problems, (
            f"{entry} diverged on all-NULL {tbl}.{col}: {'; '.join(problems)}"
        )


def test_concat_ws_null_array_law():
    """The engine law behind the round-14 finding, pinned directly:
    concat_ws('', NULL::array) is '' (never NULL), so any hash/digest
    over a nullable token array must gate on the array's nullity to
    match ANSI NULL propagation."""
    from reddit_data_engineering_project_spark.session import get_spark

    spark = get_spark()
    row = (
        spark.range(1)
        .select(
            F.concat_ws(
                " ", F.lit(None).cast("array<string>")
            ).alias("c")
        )
        .collect()[0]
    )
    assert row.c == ""


def test_x00_null_concat_probe(spark):
    """The round-14 sentinel probe: rows whose planted source key is
    NULL (even b = event_id % 8 % 2 == 0) must emit NULL — a drift back
    to the ungated concat_ws spelling would emit 0 (length of '') —
    and rows with a present key emit the exact joined-token length
    ('text body s<k>' = 12 chars)."""
    rows = registry.QUERIES["x00_adversarial_audit"](
        spark, SF_DIR
    ).collect()
    nc = {r.id: r.out for r in rows if r.probe == "null_concat"}
    assert len(nc) == 257  # event_id 0..256 planted slice
    for i, out in nc.items():
        if (i % 8) % 2 == 0:
            assert out is None, f"id {i}: NULL key must propagate"
        else:
            assert out == len("text body s0"), f"id {i}"
            assert out != 0


def test_null_embedding_exclusion_semantics(spark, tmp_path):
    """The round-14 null-embedding finding, pinned at the value level:
    un-embedded rows (contract-legal per FINITE_ARRAYS) do not
    participate in vector operations. On the half-NULL corpus every
    representative vector entry must hash-match its IS-NOT-NULL oracle
    — DuckDB's list_inner_product CRASHES on a NULL list, so a Spark
    side that ships NULL arrays into scoring can't even be compared,
    and x03_pairwise_label_centroids diverged outright (0 Spark groups
    vs NULL oracle centroids) before the exclusion landed."""
    import degenerate_corpus as deg
    from check_oracle import _check_entry, _oracle_db

    out = str(tmp_path / "emb_half")
    deg.write_partial_null(
        SF_DIR, out, "embedding", "embeddings",
        "vec_id", 2,
    )
    con = _oracle_db(out)
    try:
        for entry in (
            "x03_cosine_topk_bruteforce",
            "x03_pairwise_label_centroids",
            "x03_kmeans_step",
            "x02_semantic_dedup",
        ):
            n_rows, problems = _check_entry(spark, con, entry, out)
            assert n_rows, f"{entry}: embedded rows must still score"
            assert not problems, (
                f"{entry} diverged on half-NULL embeddings: "
                f"{'; '.join(problems)}"
            )
    finally:
        con.close()


def test_all_null_embeddings_empty_everywhere(spark, tmp_path):
    """On the all-NULL corpus every vector entry is EMPTY (no embedded
    rows to score) and, critically, nothing crashes on either engine."""
    import degenerate_corpus as deg

    out = str(tmp_path / "emb_all")
    deg.write_null_column(
        SF_DIR, out, "embedding", "embeddings"
    )
    for entry in (
        "x03_cosine_topk_bruteforce",
        "x03_pairwise_label_centroids",
        "x03_sq8_topk",
        "x02_embedding_neardup",
    ):
        assert registry.QUERIES[entry](spark, out).count() == 0, entry


def test_null_nchars_corpus_profile_says_zero_not_null(spark, tmp_path):
    """The fourth-wave finding: with documents.n_chars all NULL,
    x04_corpus_profile's n_too_short must say 0 per source group, not
    NULL — F.sum of a predicate CAST skips NULL predicates and
    collapses the all-NULL column to a NULL counter where the oracle's
    CASE..ELSE 0 says 0 (the same class as the r13
    x04_data_quality_report finding; an engine-wide scan found exactly
    this one other instance)."""
    import degenerate_corpus as deg

    out = str(tmp_path / "null_nchars")
    deg.write_null_column(
        SF_DIR, out, "n_chars", "documents"
    )
    rows = registry.QUERIES["x04_corpus_profile"](spark, out).collect()
    assert rows
    for r in rows:
        assert r.n_too_short == 0, f"{r.source}: expected 0, got {r.n_too_short!r}"
        assert r.total_chars is None  # plain sum over all-NULL stays NULL
