"""The top-k contract of ``operators/similarity.py``, written once per engine.

Every top-k entry takes its query set, its per-query rank and its
recall@k from one Spark helper each (``_query_set``, ``_top_k``,
``_recall_at_k``) and one SQL twin each (``_q_sql``, ``_top_k_sql``,
``_recall_sql``). Two pins:

1. the neighbor tie-break is spelled once per engine in the module;
2. ``_N_QUERIES`` and ``_TOP_K`` are the only source of the query bound
   and k: the module compiled with other values still hash-matches its
   oracles, and every output follows the new values.
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
SIM = ROOT / "reddit_data_engineering_project_spark" / "operators" / "similarity.py"
sys.path.insert(0, str(ROOT / "tools"))
from check_oracle import _oracle_db, table_hash  # noqa: E402

#: Query-set bound and k the module is recompiled with.
N_QUERIES, TOP_K = 3, 7

#: Entries whose rows are per query (``query_id``), with the rows each
#: query gets at sf0.001 (None: as many as fall inside the radius).
PER_QUERY = {
    "x03_ann_lsh_bucketed": TOP_K,
    "x03_ann_recall_report": 1,
    "x03_cosine_topk_bruteforce": TOP_K,
    "x03_hamming_rerank": 1,
    "x03_hamming_topk": TOP_K,
    "x03_ivf_topk": TOP_K,
    "x03_ivfpq_topk": TOP_K,
    "x03_knn_classify": 1,
    "x03_pq_topk": TOP_K,
    "x03_range_search": None,
    "x03_sq8_topk": TOP_K,
}


@pytest.mark.parametrize(
    "snippet", ['F.col("neighbor_id").asc()', "neighbor_id ASC"]
)
def test_neighbor_tie_break_is_written_once(snippet):
    src = SIM.read_text()
    assert src.count(snippet) == 1, (snippet, src.count(snippet))


@pytest.fixture(scope="module")
def recompiled():
    """``{name: (fn, oracle)}`` of similarity.py compiled with
    ``N_QUERIES``/``TOP_K``; registration is captured, so the real
    registry is left as it is."""
    src = SIM.read_text()
    for old, new in (
        ("_N_QUERIES = 5\n", f"_N_QUERIES = {N_QUERIES}\n"),
        ("_TOP_K = 10\n", f"_TOP_K = {TOP_K}\n"),
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
    mod = types.ModuleType(f"{pkg}._similarity_recompiled")
    mod.__package__ = pkg
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(registry, "register", register)
        exec(compile(src, str(SIM), "exec"), mod.__dict__)
    return entries


@pytest.mark.parametrize("name", sorted(PER_QUERY))
def test_query_bound_and_k_have_one_source(spark, recompiled, name):
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
    assert sorted(scols) == sorted(ocols)
    assert table_hash(srows, scols) == table_hash(orows, ocols), name

    rows = [dict(zip(scols, r)) for r in srows]
    queries = {r["query_id"] for r in rows}
    assert rows and queries <= set(range(N_QUERIES))
    per_query = PER_QUERY[name]
    if per_query is not None:
        assert queries == set(range(N_QUERIES))
        assert len(rows) == N_QUERIES * per_query
    if "rank" in scols:
        assert max(r["rank"] for r in rows) == TOP_K
    if "k" in scols:
        assert {r["k"] for r in rows} == {TOP_K}
    if "n_votes" in scols:
        assert max(r["n_votes"] for r in rows) <= TOP_K
