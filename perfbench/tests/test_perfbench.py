"""The benchmark's own tests (no Spark JVM needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, REPO]

import gen  # noqa: E402
import spans  # noqa: E402
import worker  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}\Z")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}\Z")


def _tree(path) -> dict[str, bytes]:
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(dirpath, f)
            with open(full, "rb") as fh:
                out[os.path.relpath(full, path)] = fh.read()
    return out


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_same_seed_gives_byte_identical_inputs(tmp_path, workload):
    gen.generate(workload, 7, str(tmp_path / "a"))
    gen.generate(workload, 7, str(tmp_path / "b"))
    gen.generate(workload, 8, str(tmp_path / "c"))
    a = _tree(tmp_path / "a")
    assert a == _tree(tmp_path / "b")
    assert a != _tree(tmp_path / "c")
    assert a.keys() == _tree(tmp_path / "c").keys()  # the seed changes values, not layout


def test_metric_names_follow_grammar_and_match_benchmark_json():
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = [(m["name"], m["unit"]) for m in bench["end_to_end"]]
    per_layer = [(m["name"], m["unit"]) for m in bench["per_layer"]]
    assert e2e == list(worker.E2E)
    assert per_layer == worker.per_layer_spec()
    assert [w["name"] for w in bench["workloads"]] == list(gen.WORKLOADS)
    names = [n for n, _ in e2e + per_layer] + [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.match(name), name
    for _, unit in e2e + per_layer:
        assert UNIT.match(unit), unit


def _span(name, start, end, parent=None):
    return {"name": name, "start": start, "end": end, "parent": parent, "run_id": 1, "thread": 0}


def test_self_time_subtracts_the_union_of_children():
    tree = [
        _span("bench", 0.0, 10.0),
        _span("operators.upsert", 1.0, 4.0, parent=0),
        # overlaps the previous child (a callback thread): counted once
        _span("streaming.runner", 3.0, 6.0, parent=0),
        _span("operators.sinks", 2.0, 3.0, parent=1),
        # overruns its parent: clipped to the parent's interval
        _span("operators.upsert", 8.0, 12.0, parent=0),
    ]
    assert spans.self_times(tree) == [3.0, 2.0, 3.0, 1.0, 4.0]
    by_layer = spans.layer_self_seconds(tree)
    assert by_layer == {"bench": 3.0, "operators.upsert": 6.0, "streaming.runner": 3.0, "operators.sinks": 1.0}


def test_self_times_of_a_nested_tree_add_up_to_the_root():
    tree = [
        _span("bench", 0.0, 5.0),
        _span("pipeline", 0.5, 4.0, parent=0),
        _span("operators.sinks", 1.0, 3.5, parent=1),
        _span("metrics", 0.6, 0.9, parent=1),
    ]
    assert sum(spans.self_times(tree)) == pytest.approx(5.0)


def test_per_op_medians_ignore_how_many_times_each_op_ran():
    # one whole cycle (a, b, c) and a partly run second one (a, b)
    names, lat = ["a", "b", "c", "a", "b"], [1.0, 2.0, 4.0, 3.0, 2.0]
    assert worker.per_op_medians(names, lat) == {"a": 2.0, "b": 2.0, "c": 4.0}


def test_planted_wrong_result_counts_as_failed(tmp_path):
    from reddit_data_engineering_project_spark import registry

    registry.load_all_operators()
    manifest = gen.generate("adhoc_analytics", 3, str(tmp_path))
    wl = workloads.AdhocAnalytics(None, str(tmp_path), manifest, str(tmp_path / "run"), spans.Tracer(), 3)
    con = workloads._duck()
    corpus = os.path.join(str(tmp_path), "corpus")
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet')")
    for key, oracle in tuple((q, q) for q in workloads.ADHOC_QUERIES) + workloads.CURATION_ORACLES:
        res = con.execute(registry.ORACLES[oracle])
        wl.results[key] = ([d[0] for d in res.description], res.fetchall())
    con.close()
    wl.results["labels"] = (["doc", "label"], [(d, min(f)) for f in manifest["families"] for d in f])
    n_checks = len(workloads.ADHOC_QUERIES) + len(workloads.CURATION_ORACLES) + 2

    assert worker.outcome(wl.check(), []) == {"correct": True, "attempted": n_checks, "failed": 0}

    cols, rows = wl.results["q09_cube"]
    first = list(rows[0])
    first[cols.index("n_orders")] += 1
    wl.results["q09_cube"] = (cols, [tuple(first)] + rows[1:])
    window = {"lat": [0.1, 0.2], "failed": 0}
    assert worker.outcome(wl.check(), [window]) == {"correct": False, "attempted": n_checks + 2, "failed": 1}


def test_refuses_to_run_without_engine_sources(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench", ignore=shutil.ignore_patterns("_tmp", "out", "__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "adhoc_analytics", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
