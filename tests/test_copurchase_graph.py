"""The co-purchase graph family (``operators/product_analytics.py``).

Eight registered entries read one graph, written once per engine: the
Spark pair enumeration ``_basket_pairs`` with ``_degree_cap`` and the
Adamic-Adar tail ``_aa_top``, and the oracle SQL fragments
``_COPURCHASE_SQL``, ``_DEGREE_CAP_SQL`` and ``_AA_TOP_SQL``. Two pins:

1. the pieces stay written once: the module's source holds exactly one
   pair self-join predicate, one SQL cap predicate and one Spark cap
   predicate;
2. ``tools/scale_curve.py::graph_curve``, the one caller of the graph
   helpers outside the registry, still runs on them.
"""

from __future__ import annotations

import json
import pathlib
import sys

import pytest

from conftest import SF_DIR

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "reddit_data_engineering_project_spark"
sys.path.insert(0, str(ROOT / "tools"))


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


def test_graph_curve_runs_on_the_graph_helpers(spark, capsys):
    import scale_curve

    try:
        scale_curve.graph_curve(spark, SF_DIR, 2)
    finally:
        spark.catalog.clearCache()
    lines = [
        json.loads(line)
        for line in capsys.readouterr().out.splitlines()
        if line.startswith("{")
    ]
    assert [r["family"] for r in lines] == ["graph", "graph"]
    one, two = lines
    assert two["edges_undirected"] == 2 * one["edges_undirected"] > 0
    assert two["triangle_rows"] == 2 * one["triangle_rows"]
    assert two["reach2_rows"] == 2 * one["reach2_rows"]
