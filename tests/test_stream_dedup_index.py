"""Streaming increment ⋈ persisted band index — the always-on ingest gate.

Drives ``run_dedup_index_stream`` end-to-end: the increment docs are
staged as N parquet files (one micro-batch each, ``maxFilesPerTrigger=1``),
the corpus band index is the bucketed table from ``build_band_index``,
and the union of all per-batch sink outputs must equal the batch path's
verified cross-side pair set (``x02_incremental_neardup``).
"""

from __future__ import annotations

import os
import pathlib

from pyspark.sql import functions as F

from reddit_data_engineering_project_spark.operators.dedup import (
    build_band_index,
)
from reddit_data_engineering_project_spark.registry import (
    QUERIES,
    load_all_operators,
)
from reddit_data_engineering_project_spark.streaming.runner import (
    run_dedup_index_stream,
)
from reddit_data_engineering_project_spark.tables import table

from conftest import SF_DIR

load_all_operators()


def test_streamed_increment_matches_batch_pairs(spark, tmp_path: pathlib.Path):
    wh = os.path.join(str(tmp_path), "wh")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS sdi LOCATION '{wh}'")
    docs = table(spark, SF_DIR, "documents")
    is_inc = F.col("doc_id") % 10 == 0
    inc, corpus = docs.filter(is_inc), docs.filter(~is_inc)

    build_band_index(corpus, "sdi.corpus_bands")

    source = str(tmp_path / "incoming")
    sink = str(tmp_path / "flagged")
    ckpt = str(tmp_path / "ckpt")
    # 3 files → 3 micro-batches.
    inc.repartition(3).write.mode("overwrite").parquet(source)

    spark.catalog.clearCache()
    run_dedup_index_stream(
        spark, source, "sdi.corpus_bands", corpus, sink, ckpt
    )
    # Each micro-batch releases what its verify stage held.
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0

    got_df = spark.read.parquet(os.path.join(sink, "batch=*"))
    got = {(r.inc_doc, r.corpus_doc) for r in got_df.collect()}
    want = {
        (r.inc_doc, r.corpus_doc)
        for r in QUERIES["x02_incremental_neardup"](spark, SF_DIR).collect()
    }
    assert got == want
    assert got  # planted corpus guarantees cross-side near-dups

    # Idempotent catch-up: a second availableNow pass with the checkpoint
    # retained ingests nothing and must not duplicate pairs.
    run_dedup_index_stream(
        spark, source, "sdi.corpus_bands", corpus, sink, ckpt
    )
    again = {
        (r.inc_doc, r.corpus_doc)
        for r in spark.read.parquet(os.path.join(sink, "batch=*")).collect()
    }
    assert again == want
