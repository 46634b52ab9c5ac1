"""The X4 text contract of ``operators/text_analysis.py`` and
``operators/curation.py``, written once per engine.

Each shared rule (token split, quality gate, rolling hash, md5 sample
bucket, bigram pairs, packing tail, split hash and label, planted
contact line, redaction, repetition gate, window starts, BPE census
and rank) has one Spark helper and one SQL fragment the oracles
compose. Two pins:

1. each rule is spelled once per engine across the two modules, and
   ``dedup.py`` reads the split from ``curation`` instead of spelling it;
2. ``_CHUNK_SIZE``, ``_CHUNK_STRIDE`` and ``_SPLIT_MULT`` are the only
   source of the chunk geometry and the split hash: curation.py compiled
   with other values still hash-matches its oracles, and the outputs
   follow the new values.
"""

from __future__ import annotations

import pathlib
import sys
import textwrap
import types

import pytest

from reddit_data_engineering_project_spark import registry
from reddit_data_engineering_project_spark.session import ensure_session_confs

from conftest import SF_DIR

ROOT = pathlib.Path(__file__).resolve().parents[1]
OPS = ROOT / "reddit_data_engineering_project_spark" / "operators"
CURATION = OPS / "curation.py"
sys.path.insert(0, str(ROOT / "tools"))
from check_oracle import _oracle_db, table_hash  # noqa: E402

#: Chunk geometry and split multiplier curation.py is recompiled with.
CHUNK_SIZE, CHUNK_STRIDE, SPLIT_MULT = 20, 15, 3_266_489_917
SPLIT_PRIME = 1_000_000_007


def _x4_source() -> str:
    return (OPS / "text_analysis.py").read_text() + CURATION.read_text()


#: One spelling per rule and engine: (Spark, SQL).
RULES = {
    "token split": ('lambda t: t != ""', "x -> x <> ''"),
    "type-token ratio": (
        'nsize(F.array_distinct(toks)).cast("double")',
        "len(list_distinct(toks))::DOUBLE",
    ),
    "quality gate": (">= _MIN_TTR", ">= {_MIN_TTR}"),
    "stopword hits": ("F.array_contains(stop, t)", "x -> list_contains("),
    "roll step": ("acc * _FP_BASE + v", "acc * {_FP_BASE} + v"),
    "md5 bucket": ("F.conv(", "'0x' ||"),
    "bigram pairs": ("F.arrays_zip(", "toks[i + 1]"),
    "packing": (
        "Window.unboundedPreceding",
        "ROWS UNBOUNDED PRECEDING",
    ),
    "split hash": (
        "% _SPLIT_PRIME) * _SPLIT_MULT)",
        "% {_SPLIT_PRIME}) * {_SPLIT_MULT})",
    ),
    "split label": ('"train")', "THEN 'train'"),
    "planted line": ('F.lit(" contact ")', "' contact '"),
    "redaction": ("F.regexp_replace(", "regexp_replace({"),
    "repetition gate": ("<= _REP_MAX", "<= {_REP_MAX}"),
    "window starts": ("F.sequence(", "range(0, "),
    "bpe census": (
        "_pair_census_partials, schema",
        "generate_series(1, length(t) - 1)",
    ),
    "bpe rank": (
        "Window.orderBy(*_pair_order())",
        "ORDER BY count(*) DESC, pair ASC",
    ),
}


@pytest.mark.parametrize("engine", [0, 1], ids=["spark", "sql"])
@pytest.mark.parametrize("rule", sorted(RULES))
def test_rule_is_written_once(rule, engine):
    snippet = RULES[rule][engine]
    n = _x4_source().count(snippet)
    assert n == 1, (rule, snippet, n)


@pytest.mark.parametrize(
    "literal",
    [
        "131 ",  # rolling-hash base
        "1000000007",
        "2654435761",
        "<= 0.62",  # repetition gate
        "2048.0",  # packing budget
        "% 16",  # packing shards
        "'the','a'",  # stopword list
    ],
)
def test_no_constant_is_spelled_in_sql(literal):
    assert literal not in _x4_source(), literal


def test_dedup_reads_the_split_from_curation():
    src = (OPS / "dedup.py").read_text()
    for literal in ("1000000007", "2654435761", "1_000_000_007", "2_654_435_761"):
        assert literal not in src, literal
    assert "_split_sql(_split_bucket_sql('doc_a'))" in src


@pytest.fixture(scope="module")
def recompiled():
    """``{name: (fn, oracle)}`` of curation.py compiled with
    ``CHUNK_SIZE``/``CHUNK_STRIDE``/``SPLIT_MULT``; registration is
    captured, so the real registry is left as it is."""
    src = CURATION.read_text()
    for old, new in (
        ("_CHUNK_SIZE = 64\n", f"_CHUNK_SIZE = {CHUNK_SIZE}\n"),
        ("_CHUNK_STRIDE = 48\n", f"_CHUNK_STRIDE = {CHUNK_STRIDE}\n"),
        ("_SPLIT_MULT = 2_654_435_761\n", f"_SPLIT_MULT = {SPLIT_MULT}\n"),
    ):
        assert src.count(old) == 1, old
        src = src.replace(old, new)
    entries = {}

    def register(name, oracle, tags=()):
        def deco(fn):
            entries[name] = (fn, textwrap.dedent(oracle).strip())
            return fn

        return deco

    pkg = "reddit_data_engineering_project_spark.operators"
    mod = types.ModuleType(f"{pkg}._curation_recompiled")
    mod.__package__ = pkg
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(registry, "register", register)
        exec(compile(src, str(CURATION), "exec"), mod.__dict__)
    return entries


def _bucket(doc_id: int) -> int:
    return (doc_id % SPLIT_PRIME) * SPLIT_MULT % SPLIT_PRIME % 100


def _split(doc_id: int) -> str:
    b = _bucket(doc_id)
    return "train" if b < 80 else "val" if b < 90 else "test"


def _check_chunking(rows):
    assert max(r["chunk_len"] for r in rows) == CHUNK_SIZE
    assert all(r["start"] == r["chunk_idx"] * CHUNK_STRIDE for r in rows)


def _check_dataset_split(rows):
    assert all(r["bucket"] == _bucket(r["doc_id"]) for r in rows)
    assert all(r["split"] == _split(r["doc_id"]) for r in rows)


def _check_curation_full(rows):
    assert all(r["split"] == _split(r["doc_id"]) for r in rows)
    assert all(
        r["n_chunks"] == -(-r["n_tokens"] // CHUNK_STRIDE)
        for r in rows
        if r["n_tokens"] is not None
    )


def _check_global_shuffle(rows):
    assert all(
        r["order_hash"] == r["doc_id"] % SPLIT_PRIME * SPLIT_MULT % SPLIT_PRIME
        for r in rows
    )


#: Entries that read the recompiled constants, with a check that their
#: rows follow the new values (None: the oracle match is the check).
FOLLOWS = {
    "x04_chunking": _check_chunking,
    "x04_dataset_split": _check_dataset_split,
    "pipeline_curation_full": _check_curation_full,
    "q18_export_training_shards": None,
    "x04_global_shuffle": _check_global_shuffle,
    "x04_mixing_rebalance": None,
}


@pytest.mark.parametrize("name", sorted(FOLLOWS))
def test_chunk_geometry_and_split_have_one_source(spark, recompiled, name):
    fn, oracle = recompiled[name]
    ensure_session_confs(spark)
    sdf = fn(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    con = _oracle_db(SF_DIR)
    try:
        res = con.execute(oracle)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
    finally:
        con.close()
    spark.catalog.clearCache()
    assert srows
    assert sorted(scols) == sorted(ocols)
    assert table_hash(srows, scols) == table_hash(orows, ocols), name
    if FOLLOWS[name] is not None:
        FOLLOWS[name]([dict(zip(scols, r)) for r in srows])
