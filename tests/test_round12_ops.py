"""Round-12 pins: the ingest contracts are OPERATIONAL (r11 verdict
item 2 — "a guard nobody runs protects nobody").

Two call sites get coverage:

1. the live ingest runners — the contract rides the existing scan as
   ``observe()`` metrics (zero extra pass) and the run raises after
   completion when any batch carried a violating row;
2. ``tools/check_oracle.py`` and ``tests/test_oracle_contract.py`` —
   both vet the corpus they sweep before grading against it; the
   pass on the committed corpus and the raise on a planted
   out-of-domain corpus are pinned by
   ``tests/test_round11_ops.py::test_ingest_contract_guard``.
"""

from __future__ import annotations

import datetime
import importlib
import os

import pytest

from pyspark.sql import functions as F

from conftest import SF_DIR


#: Past TIME_DOMAINS["events"]'s 2999-12-31 ceiling, yet a legal
#: TimestampType value every runner's plan can window and sessionize.
_FAR_FUTURE = datetime.datetime(3000, 6, 1)


def _gated_runner(case: str):
    """``"<module>.<runner>"`` -> a ``(spark, src, sink, ckpt, **kw)``
    callable (the enrich runner also takes a dimension to join)."""
    module, name = case.split(".")
    run = getattr(
        importlib.import_module(
            f"reddit_data_engineering_project_spark.streaming.{module}"
        ),
        name,
    )
    if name != "run_enrich_stream":
        return run

    def enrich(spark, src, sink, ckpt, **kw):
        dim = spark.createDataFrame(
            [("view", "engagement")], ["event_type", "category"]
        )
        run(spark, src, dim, sink, ckpt, on="event_type", **kw)

    return enrich


#: (runner, source columns, planted event_id, column, value, message)
_GATE_CASES = [
    ("runner.run_tumbling_stream", None, 7, "value", -1e9,
     "out-of-domain"),
    ("runner.run_enrich_stream", ("event_id", "ts", "event_type", "value"),
     3, "event_id", None, "null-primary-key"),
    ("runner.run_session_stream", None, 11, "ts", _FAR_FUTURE,
     "out-of-domain"),
    ("stateful.run_zscore_stream", None, 5, "value", 7e7,
     "out-of-domain"),
    ("stateful.run_session_stream", None, 11, "ts", _FAR_FUTURE,
     "out-of-domain"),
]


@pytest.mark.parametrize(
    "case,columns,event_id,column,planted,match",
    [pytest.param(*c, id=c[0]) for c in _GATE_CASES],
)
def test_gated_runner_rejects_planted_violation(
    spark, tmp_path, case, columns, event_id, column, planted, match
):
    """The live ingest gate on every runner that carries one: a tiny
    one-file source with one contract-violating row fails the run with a
    ValueError naming the counts — the observe() metrics ride the
    stream's own scan. Each plant sits in a column the runner's
    projection keeps and that its plan processes without crashing, so
    the run completes and the post-run gate is what fails it (a null
    event_id would make the z-score fold fail loudly before the gate
    ever ran). contract_table=None disables the gate for non-corpus
    sources: on the tumbling runner the same source then streams
    through."""
    from reddit_data_engineering_project_spark.tables import table

    run = _gated_runner(case)
    src = os.path.join(str(tmp_path), "src")
    ev = table(spark, SF_DIR, "events").filter(F.col("event_id") < 300)
    if columns:
        ev = ev.select(*columns)
    ev.withColumn(
        column,
        F.when(F.col("event_id") == event_id, F.lit(planted)).otherwise(
            F.col(column)
        ),
    ).coalesce(1).write.parquet(src)

    with pytest.raises(ValueError, match=match):
        run(
            spark,
            src,
            os.path.join(str(tmp_path), "sink"),
            os.path.join(str(tmp_path), "ckpt"),
        )
    if case == "runner.run_tumbling_stream":
        run(
            spark,
            src,
            os.path.join(str(tmp_path), "sink2"),
            os.path.join(str(tmp_path), "ckpt2"),
            contract_table=None,
        )


def test_contract_observe_metrics_counts(spark):
    """The observe() aggregate columns count exactly the violating
    rows, batch-side (usable in any DataFrame agg, streaming or not)."""
    from reddit_data_engineering_project_spark.tables import (
        contract_observe_metrics,
    )

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 1.0),       # clean
            (None, "2024-01-01 00:00:00", 1.0),    # null pk
            (3, "2024-01-01 00:00:00", 2e3),       # value out of domain
            (4, "9999-12-31 23:50:00", 1.0),       # time out of domain
            (5, None, None),                        # nulls stay legal
        ],
        "event_id long, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    row = df.agg(*contract_observe_metrics("events")).first()
    assert (row.n_rows, row.n_null_pk, row.n_out_of_domain) == (5, 1, 2)
    # a table with no declared contract yields no metrics
    assert contract_observe_metrics("lineitem") == []


def test_zscore_fold_paths_identical(monkeypatch):
    """The z-score fold's two arms (sequential small-call loop vs the
    stride-tricks vectorized path, dispatched on _VECTOR_MIN) must be
    ROW-IDENTICAL — outputs, masks, and state tail (None≡NaN) — since
    which arm runs depends only on batch size, never on data. Covers
    NaN values, a state tail carrying None (the array<double> round
    trip can render missing as None), and both sides of the dispatch
    threshold."""
    import numpy as np

    from reddit_data_engineering_project_spark.streaming import stateful

    rng = np.random.default_rng(42)

    def both(tail, ev, vals):
        outs = []
        for forced in (0, 10**9):  # 0 -> always vectorized, huge -> seq
            monkeypatch.setattr(stateful, "_VECTOR_MIN", forced)
            outs.append(stateful._zscore_fold(list(tail), ev, vals))
        return outs

    for m in (1, 7, 63, 64, 65, 500):
        ev = rng.integers(1, 10**9, m).astype("int64")
        # Integral e4-style doubles: the vectorized arm's exactness
        # domain (round 13 it DISPATCHES on that domain — non-integral
        # inputs take the sequential arm on both sides, which would
        # make this identity check vacuous).
        vals = np.where(
            rng.random(m) < 0.15,
            np.nan,
            np.round(rng.normal(0.0, 100.0, m) * 10000.0),
        )
        for tail in ([], [10000.0, None, float("nan"), -25000.0]):
            (e1, v1, vm1, z1, zm1, t1), (e2, v2, vm2, z2, zm2, t2) = both(
                tail, ev, vals
            )
            assert list(e1) == list(e2)
            assert list(vm1) == list(vm2) and list(zm1) == list(zm2)
            assert list(v1[~vm1]) == list(v2[~vm2])
            assert list(z1[~zm1]) == list(z2[~zm2])
            assert len(t1) == len(t2) <= stateful._FRAME - 1
            for a, b in zip(t1, t2):
                a_missing = a is None or a != a
                b_missing = b is None or b != b
                assert a_missing == b_missing
                if not a_missing:
                    assert a == b


def test_finite_embedding_contract(spark, tmp_path):
    """tables.FINITE_ARRAYS: embedding components must be finite and
    element-non-null (a NaN poisons every x03 distance on BOTH engines
    and then sorts by each engine's own NaN rule — an ingest bug, not a
    data condition). Committed corpus conforms; planted NaN / Inf /
    null-element corpora raise; a NULL embedding ROW stays legal."""
    from reddit_data_engineering_project_spark import tables

    sf = SF_DIR
    tables.check_ingest_contracts(spark, sf, tables=("embeddings",))

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    cases = {
        "nan": F.expr(
            "transform(embedding, (x, i) -> "
            "CASE WHEN i = 0 THEN float('NaN') ELSE x END)"
        ),
        "inf": F.expr(
            "transform(embedding, (x, i) -> "
            "CASE WHEN i = 1 THEN float('Infinity') ELSE x END)"
        ),
        "null_elem": F.expr(
            "transform(embedding, (x, i) -> "
            "CASE WHEN i = 2 THEN CAST(NULL AS FLOAT) ELSE x END)"
        ),
    }
    for tag, expr in cases.items():
        bad = str(tmp_path / tag)
        os.makedirs(bad)
        emb.withColumn(
            "embedding",
            F.when(F.col("vec_id") == 0, expr).otherwise(
                F.col("embedding")
            ),
        ).coalesce(1).write.parquet(f"{bad}/embeddings.parquet")
        with pytest.raises(ValueError, match="in_domain"):
            tables.check_ingest_contracts(
                spark, bad, tables=("embeddings",)
            )
    # NULL row: legal (a document not yet embedded)
    ok = str(tmp_path / "null_row")
    os.makedirs(ok)
    emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") == 0, F.lit(None)).otherwise(
            F.col("embedding")
        ),
    ).coalesce(1).write.parquet(f"{ok}/embeddings.parquet")
    tables.check_ingest_contracts(spark, ok, tables=("embeddings",))
