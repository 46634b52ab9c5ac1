"""Adversarial-corpus regression net.

The round-8 adversarial sweep (``tools/adversarial_corpus.py`` +
``tools/check_oracle.py``) found THIRTEEN latent divergences that the
committed fixtures cannot exhibit — oracle crashes on malformed JSON,
a ``parse_json`` FAILFAST job-killer, float-sum ulp flips under key
skew, a never-matching RE2 ``\\u`` escape, dropped zero-token docs, a
descending-``sequence`` byte fabricator, and char-vs-byte stride drift.
All are fixed; this test regenerates the hostile corpus in tmp_path
and re-runs exactly those entries through the same compare the driver
uses, so none of the thirteen can silently regress. The full 210-entry
sweep stays a tool invocation (too slow for the suite):

    python tools/adversarial_corpus.py --out /tmp/advcorpus
    python tools/check_oracle.py --sf /tmp/advcorpus
"""

from __future__ import annotations

import importlib
import os
import pathlib
import sys

import pytest

from reddit_data_engineering_project_spark import registry, tables

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
)
from check_oracle import _check_entry, _oracle_db  # noqa: E402

registry.load_all_operators()

#: The thirteen entries the round-8 adversarial sweep caught, plus the
#: five the round-10 NULL-user class caught (anonymous events form ONE
#: grouping key on both engines; equi-joins never match them; NULLS
#: FIRST/LAST tiebreak defaults differ; non-nullable applyInPandas
#: output schemas crash on the group's Arrow nulls; int(NaN) raises in
#: replay key extraction).
SWEEP_FINDINGS = [
    "pipeline_clean_coerce",
    "q10_join_left_outer",
    "q17_json_funcs",
    "q17_map_funcs",
    "q17_variant_shred",
    "q22_ewma_window",
    "x02_embedding_neardup",
    "x03_pairwise_label_centroids",
    "x04_language_id",
    "x04_repetition_metrics",
    "x04_tokenize_to_ids",
    "x05_byte_histogram",
    "x05_payload_resize",
    # round-10 NULL-user class
    "q08_approx_distinct",
    "q11_asof_join",
    "q11_asof_tolerance",
    "q20_apply_in_pandas_zscore",
    "s07_windowed_topk",
    "s08_stateful_zscore_replay",
    # round-11 extreme-value class (-0.0 / denormal / domain-edge
    # magnitude): Spark's BigDecimal round can never emit -0.0 while
    # DuckDB's double round preserves the sign bit — five oracles that
    # inlined the round spelling without dround_sql's "+ 0.0"
    # canonicalizer diverged (q11/s06/q19/q20/pipeline_clean_coerce);
    # q13_running_frames' windowed double sums flipped a rounded cent
    # under magnitude dominance (DuckDB segment-tree vs Spark
    # sequential association) and now folds e4-quantized BIGINTs. The
    # 1e9 probe additionally proved out-of-domain values overflow the
    # quantized-compare casts — now an ingest contract
    # (tables.VALUE_DOMAINS), so the corpus stresses the ±1e3 edge.
    "q13_running_frames",
    "q19_upsert_keep_latest",
    "q20_pandas_scalar_udf",
    "s06_interval_join",
    # round-11 unicode-edge class (astral-plane surrogate pairs,
    # combining marks, RTL runs in documents.text): the frame
    # sampler's oracle sliced the TEXT (code points) where the Spark
    # operator slices the encoded PAYLOAD (bytes) — invisible while
    # the lang='en' slice stayed ASCII; the oracle now slices byte-true
    # in the hex domain (2 hex chars per byte), and the composed frame
    # dedup heals with it.
    "x05_frame_sample",
    "x05_frame_dedup",
    # round-12 boundary-tie class (events EXACTLY the session gap
    # apart, gap+1µs apart, and at exact hour edges ±1µs — the
    # strict-vs-inclusive seams; synthetic users 777002/777007/777010,
    # ids chosen to pass the s09 md5 sample): caught s03's oracle
    # splitting at >= gap under a documented exclusive-end assumption,
    # while Spark's F.session_window MERGES windows that touch (probed:
    # 00:00 and 00:30 with a 30-min gap land in ONE [00:00, 01:00)
    # session). Oracle now splits on strict >, matching Spark, the
    # custom sessionizer's _gap_fold, and every other session oracle.
    "s03_session_window",
    # round-12 calendar-edge subclass (leap day, last-µs-of-year,
    # month-end anchors planted as typed click/purchase events): caught
    # q21_spend_trend_ols carrying TWO interacting seams — the oracle
    # anchored day indexes at min(date) over ALL events while the
    # operator anchored at min over PURCHASES (latent while the two
    # coincided), and a NULL-ts purchase formed a PHANTOM regression
    # point (counted in n_days and sy, absent from sx/sxy/sxx), which
    # is what broke the x-shift invariance that had been masking the
    # anchor mismatch. Both sides now anchor on dated purchases and
    # drop undated rows from the regression.
    "q21_spend_trend_ols",
    # round-15 negated-key class (every key contract-legal when
    # negated; no committed corpus has a negative id): caught the x00
    # sentinel's OWN planted geometry — _case_over_bucket fell through
    # to the LAST arm for out-of-range buckets where the SQL CASE (no
    # ELSE) yields NULL, and Spark DIV / DuckDB // both truncate
    # toward zero where the session comb assumed floor. All key
    # buckets in the entry are now floored (F.pmod mirrored by
    # ((x % m) + m) % m; division spelled (x - floored_mod) DIV m so
    # truncation equals floor on the exact multiple).
    "x00_adversarial_audit",
    # half-cent class (375 of 1,500 o_totalprice values are
    # exact x.xx5): the snapshot read-back summed its doubles in another
    # order than the oracle and dround flipped a cent; both engines now
    # sum e4-quantized BIGINTs.
    "q18_snapshot_publish_read",
]

@pytest.fixture(scope="module")
def adv_sf(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("advcorpus"))
    adv = importlib.import_module("adversarial_corpus")
    argv = sys.argv
    sys.argv = ["adversarial_corpus.py", "--out", out]
    try:
        adv.main()
    finally:
        sys.argv = argv
    return out


@pytest.fixture(scope="module")
def adv_duck(adv_sf):
    con = _oracle_db(adv_sf)
    yield con
    con.close()


def test_adversarial_corpus_meets_ingest_contracts(spark, adv_sf):
    """The hostile corpus stresses the declared domains at their edges,
    never past them: ``check_oracle.run_checks`` vets the contracts
    before grading, so an out-of-domain row would stop the documented
    sweep before it grades anything."""
    tables.check_ingest_contracts(spark, adv_sf)


@pytest.mark.parametrize("name", SWEEP_FINDINGS)
def test_sweep_finding_stays_green(spark, adv_sf, adv_duck, name):
    _, problems = _check_entry(spark, adv_duck, name, adv_sf)
    assert not problems, f"{name}: {'; '.join(problems)}"


# ---------------------------------------------------------------------------
# Degenerate cardinality (r11 verdict item 3): EMPTY and 1-ROW corpora.
# ---------------------------------------------------------------------------
#
# Full sweeps are tool invocations (like the hostile sweep above):
#
#     python tools/degenerate_corpus.py
#     python tools/check_oracle.py --sf /tmp/degcorpus_empty
#     python tools/check_oracle.py --sf /tmp/degcorpus_one
#
# Round-12 results: EMPTY 202 ok / 5 fail, 1-ROW 206 ok / 1 fail.
# MIXED (--mixed: one table empty, rest intact — the empty-side-of-a-
# join shape the all-empty corpus can't exhibit): events-empty,
# documents-empty, and embeddings-empty each swept 207 ok / 0 fail,
# zero findings.
# Three fails were CRASHES, all one class — a zero-row partitioned
# parquet write leaves no footers, so schema INFERENCE on read-back
# raises UNABLE_TO_INFER_SCHEMA (q18_sink_roundtrip,
# q18_partitioned_prune, q18_export_training_shards; the no-data-day
# production bug). Fixed by explicit schema-on-read; pinned below.
# The remaining fails are ONE documented engine-semantics divergence,
# not a defect: Spark's GROUP BY ROLLUP/CUBE over EMPTY input emits
# zero rows (DataFrame API and SQL alike), while ANSI/DuckDB emit the
# grand-total grouping-set row (global aggregation over zero rows =
# one row). It shows on the empty corpus (q09_cube, q09_rollup) and on
# the 1-row corpus wherever a join empties the aggregate's input
# (q09_rollup: the single customer's nationkey doesn't match the
# single nation). Pinned below so the divergence stays EXACTLY this
# shape.

DEGENERATE_FIXED_CRASHES = [
    "q18_sink_roundtrip",
    "q18_partitioned_prune",
    "q18_export_training_shards",
]


@pytest.fixture(scope="module")
def degenerate_dirs(tmp_path_factory):
    deg = importlib.import_module("degenerate_corpus")
    base = tmp_path_factory.mktemp("degcorpus")
    out_empty, out_one = str(base / "empty"), str(base / "one")
    deg.write_slices("/root/testdata/sf0.001", out_empty, out_one)
    return out_empty, out_one


TOOLS_DIR = pathlib.Path(__file__).parents[1] / "tools"


@pytest.mark.parametrize("tool", sorted(p.name for p in TOOLS_DIR.glob("*.py")))
def test_tool_command_line_help(tool):
    """Every tool runs as a script: the module defines everything
    ``main`` uses before ``main`` runs, so ``--help`` exits 0."""
    import subprocess

    done = subprocess.run(
        [sys.executable, str(TOOLS_DIR / tool), "--help"],
        capture_output=True,
        text=True,
    )
    assert done.returncode == 0, done.stderr


@pytest.mark.parametrize("name", DEGENERATE_FIXED_CRASHES)
def test_degenerate_empty_sink_roundtrips_run(spark, degenerate_dirs, name):
    """The no-data-day class: partitioned write of ZERO rows, read back
    with the declared schema, aggregate — runs and hash-matches the
    oracle (both sides empty)."""
    out_empty, _ = degenerate_dirs
    con = _oracle_db(out_empty)
    try:
        n_rows, problems = _check_entry(spark, con, name, out_empty)
    finally:
        con.close()
    assert not problems, f"{name}: {'; '.join(problems)}"
    assert n_rows == 0


#: Every entry of ``operators/similarity.py``.
SIMILARITY_ENTRIES = sorted(
    n for n, fn in registry.QUERIES.items()
    if fn.__module__.endswith("operators.similarity")
)

#: Entries with no output row on either degenerate corpus: the near-dup
#: pairs and components (no pair exists), and every similarity entry
#: that ranks or range-searches a query's neighbors (a query alone in
#: its corpus has none).
DEGENERATE_ZERO_ROWS = {
    "x02_minhash_lsh_neardup",
    "x02_dedup_clusters",
    "x02_dedup_keep_best",
    "x03_ann_lsh_bucketed",
    "x03_ann_recall_report",
    "x03_cosine_topk_bruteforce",
    "x03_hamming_rerank",
    "x03_hamming_topk",
    "x03_ivf_topk",
    "x03_ivfpq_topk",
    "x03_knn_classify",
    "x03_pq_topk",
    "x03_range_search",
    "x03_sq8_topk",
}


#: Every entry of ``operators/text_analysis.py`` and
#: ``operators/curation.py`` (the X4 text contract), plus the split
#: leakage audit, which composes the curation split.
TEXT_ENTRIES = sorted(
    n for n, fn in registry.QUERIES.items()
    if fn.__module__.endswith(("operators.text_analysis", "operators.curation"))
) + ["pipeline_split_leakage_audit"]


#: The event-order contract's entries: every ``operators/timeseries.py``
#: entry, the other batch entries over the per-user order or the session
#: gap (with q13's RANGE frame, which keeps its own order) and the
#: streaming replays that share the gap and the scoring frame.
EVENT_ENTRIES = sorted(
    n for n, fn in registry.QUERIES.items()
    if fn.__module__.endswith("operators.timeseries")
) + [
    "pipeline_feature_store",
    "q11_asof_join",
    "q11_asof_tolerance",
    "q13_lag_lead",
    "q13_range_interval_frames",
    "q13_running_frames",
    "q13_value_functions",
    "q19_scd2_history",
    "q21_attribution_last_touch",
    "q21_event_transitions",
    "q21_next_event_prediction",
    "q21_sessionize_gap",
    "s03_session_window",
    "s08_stateful_zscore_replay",
    "s09_session_gap_replay",
    "s09_session_timeout_replay",
]


@pytest.mark.parametrize("corpus", [0, 1], ids=["empty", "one"])
@pytest.mark.parametrize(
    "name",
    [
        "x02_minhash_lsh_neardup",
        "x02_dedup_clusters",
        "x02_dedup_keep_best",
        *SIMILARITY_ENTRIES,
        *TEXT_ENTRIES,
        *EVENT_ENTRIES,
    ],
)
def test_degenerate_neardup_components_match_oracle(
    spark, degenerate_dirs, corpus, name
):
    """Inputs with no pair and no neighbor: the near-dup pair query, both
    component entries (labels from the driver path), all fifteen vector
    entries (the shared query set, rank tail and recall roll-up) and the
    37 text entries (the shared token rule, quality gate, hashes,
    bigrams, packing tail, curation stages and BPE census) and the 26
    event-order entries (the per-user order, scoring frame, session gap
    and hourly grid) match DuckDB on the empty and one-row corpora."""
    assert len(SIMILARITY_ENTRIES) == 15
    assert len(TEXT_ENTRIES) == 37
    assert len(EVENT_ENTRIES) == 26
    sf_dir = degenerate_dirs[corpus]
    con = _oracle_db(sf_dir)
    try:
        n_rows, problems = _check_entry(spark, con, name, sf_dir)
    finally:
        con.close()
    assert not problems, f"{name}: {'; '.join(problems)}"
    if name in DEGENERATE_ZERO_ROWS:
        assert n_rows == 0


def test_degenerate_rollup_divergence_is_exactly_documented(
    spark, degenerate_dirs
):
    """Spark rollup/cube over EMPTY input: zero rows; DuckDB: the ANSI
    grand-total row. Any other shape (a crash, a different rowcount, a
    Spark behavior change in an upgrade) must fail here loudly."""
    out_empty, out_one = degenerate_dirs
    for sf_dir, names in (
        (out_empty, ("q09_cube", "q09_rollup")),
        (out_one, ("q09_rollup",)),
    ):
        con = _oracle_db(sf_dir)
        try:
            for name in names:
                srows = registry.QUERIES[name](spark, sf_dir).collect()
                drows = con.execute(registry.ORACLES[name]).fetchall()
                assert len(srows) == 0, (name, sf_dir, srows)
                assert len(drows) == 1, (name, sf_dir, drows)
        finally:
            con.close()
    # and on the 1-row corpus the cube over the intact single-table
    # input MATCHES (the divergence needs an EMPTY aggregate input)
    _, out_one = degenerate_dirs
    srows = registry.QUERIES["q09_cube"](spark, out_one).collect()
    con = _oracle_db(out_one)
    try:
        drows = con.execute(registry.ORACLES["q09_cube"]).fetchall()
    finally:
        con.close()
    assert len(srows) == len(drows) > 0
