"""The oracle contract: every registered query matches its DuckDB oracle.

One test id per name in ``registry.QUERIES``. Each runs the query at
sf0.001 in the shared session and compares row count, sorted column
names and the order-insensitive value hash with its oracle through
``check_oracle._check_entry`` — the same body as the command-line
sweep ``python tools/check_oracle.py --sf DIR``. The corpus is vetted
against the declared ingest contracts once, before the first compare.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))

from check_oracle import TABLE_NAMES, _check_entry, _oracle_db  # noqa: E402
from conftest import SF_DIR  # noqa: E402

from reddit_data_engineering_project_spark import registry  # noqa: E402

registry.load_all_operators()


@pytest.fixture(scope="module")
def oracle_db(spark):
    from reddit_data_engineering_project_spark.tables import (
        check_ingest_contracts,
    )

    check_ingest_contracts(spark, SF_DIR)
    con = _oracle_db(SF_DIR)
    yield con
    con.close()


def test_entry_smoke(spark):
    """``__spark_entry__`` imports, its flagship query returns rows, and
    it exposes exactly the registry."""
    import __spark_entry__ as entrymod

    assert entrymod.entry(spark).count() >= 1
    assert set(entrymod.queries()) == set(registry.QUERIES)
    assert set(entrymod.oracle_sql()) == set(registry.ORACLES)
    assert set(registry.ORACLES) <= set(registry.QUERIES)


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_oracle_contract(spark, oracle_db, name):
    _, problems = _check_entry(spark, oracle_db, name, SF_DIR)
    assert not problems, f"{name}: {'; '.join(problems)}"


def test_oracle_db_reads_a_corpus_path_with_a_quote(tmp_path):
    """A ``'`` in the corpus directory name is escaped in the view SQL,
    not a syntax error."""
    corpus = tmp_path / "o'brien corpus"
    corpus.mkdir()
    for t in TABLE_NAMES:
        (corpus / f"{t}.parquet").symlink_to(os.path.join(SF_DIR, f"{t}.parquet"))
    con = _oracle_db(str(corpus))
    try:
        n = con.execute("SELECT count(*) FROM region").fetchone()[0]
    finally:
        con.close()
    assert n == 5
