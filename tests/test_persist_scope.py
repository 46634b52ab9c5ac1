"""The engine's one persist discipline (``registry.hold``).

Every relation an entry persists is released at the next outermost
registered entry call, so a long-lived session neither piles up cached
relations nor answers from a relation cached over an input file that
has since been rewritten in place. Entries that call other entries keep
their relations until the caller's action, and caches the caller made
itself are never touched.
"""

from __future__ import annotations

import ast
import pathlib
import re
import shutil

import pyarrow.parquet as pq

from reddit_data_engineering_project_spark import registry

from conftest import SF_DIR

registry.load_all_operators()

SF01 = "/root/testdata/sf0.01"
PACKAGE = pathlib.Path(registry.__file__).parent

#: Entries that hold relations; the last one holds the most.
PERSISTING = (
    "x02_neardup_jaccard",
    "q21_kcore_peel",
    "x02_minhash_lsh_neardup",
)


def _persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _rows(spark, name: str, sf_dir: str) -> list[tuple]:
    rows = registry.QUERIES[name](spark, sf_dir).collect()
    return sorted(tuple(r) for r in rows)


def _is_cached(df) -> bool:
    level = df.storageLevel
    return level.useMemory or level.useDisk


def test_rerun_after_in_place_rewrite_reads_the_new_file(
    spark, tmp_path: pathlib.Path
):
    corpus = tmp_path / "corpus"
    shutil.copytree(SF01, corpus)
    spark.catalog.clearCache()
    first = _rows(spark, "x02_minhash_lsh_neardup", str(corpus))

    docs = corpus / "documents.parquet"
    t = pq.read_table(docs)
    pq.write_table(t.slice(0, t.num_rows // 2), docs)

    rerun = _rows(spark, "x02_minhash_lsh_neardup", str(corpus))
    spark.catalog.clearCache()
    fresh = _rows(spark, "x02_minhash_lsh_neardup", str(corpus))
    assert fresh != first  # the rewrite changes the answer
    assert rerun == fresh


def test_back_to_back_entries_hold_only_the_last_entrys_relations(spark):
    spark.catalog.clearCache()
    for name in PERSISTING:
        registry.QUERIES[name](spark, SF_DIR).collect()
    after_sequence = _persisted_rdds(spark)

    spark.catalog.clearCache()
    registry.QUERIES[PERSISTING[-1]](spark, SF_DIR).collect()
    last_alone = _persisted_rdds(spark)
    assert last_alone > 0
    assert after_sequence <= last_alone


def test_nested_entry_keeps_the_outer_entrys_relations_until_the_action(spark):
    """``pipeline_dedup_report`` holds the pair set of the entry it calls
    (``x02_minhash_lsh_neardup``); that inner call must not release it."""
    spark.catalog.clearCache()
    report = registry.QUERIES["pipeline_dedup_report"](spark, SF_DIR)
    cached_plan = report._jdf.queryExecution().withCachedData().toString()
    assert "InMemoryRelation" in cached_plan
    assert _is_cached(registry._scope.held[-1])
    assert report.count() == 1
    assert _is_cached(registry._scope.held[-1])


def test_an_entry_call_leaves_the_callers_own_cache_alone(spark):
    mine = spark.range(100).selectExpr("id * 2 AS x").persist()
    try:
        mine.count()
        for name in PERSISTING[:2]:
            registry.QUERIES[name](spark, SF_DIR).collect()
        assert _is_cached(mine)
    finally:
        mine.unpersist()


def test_only_registry_hold_persists():
    """No ``.persist(`` or ``.cache()`` in the engine outside
    ``registry.hold``, comments and docstrings included."""
    tree = ast.parse((PACKAGE / "registry.py").read_text())
    hold = next(
        n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "hold"
    )
    allowed = {
        ("registry.py", line) for line in range(hold.lineno, hold.end_lineno + 1)
    }
    found = [
        (str(path.relative_to(PACKAGE)), i)
        for path in sorted(PACKAGE.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"\.persist\(|\.cache\(\)", line)
    ]
    assert found and set(found) <= allowed, found
