"""The co-purchase graph family (``operators/product_analytics.py``).

Eight registered entries read one graph, written once per engine: the
Spark pair enumeration ``_basket_pairs`` with ``_degree_cap`` and the
Adamic-Adar tail ``_aa_top``, and the oracle SQL fragments
``_COPURCHASE_SQL``, ``_DEGREE_CAP_SQL`` and ``_AA_TOP_SQL``. The pin:
the pieces stay written once, so the module's source holds exactly one
pair self-join predicate, one SQL cap predicate and one Spark cap
predicate.
"""

from __future__ import annotations

import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "reddit_data_engineering_project_spark"


@pytest.mark.parametrize(
    "snippet",
    [
        "a.l_partkey < b.l_partkey",
        "WHERE cum * 100 >= n *",
        'F.col("cum") * 100 >=',
    ],
)
def test_graph_pieces_are_written_once(snippet):
    src = (PKG / "operators" / "product_analytics.py").read_text()
    assert src.count(snippet) == 1, (snippet, src.count(snippet))

