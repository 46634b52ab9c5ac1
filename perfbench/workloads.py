"""The two benchmark workloads.

Each workload is one closed-loop caller. It exposes:

* ``warmup()`` — one untimed pass whose outputs ``check()`` verifies;
* ``check()`` — a list of ``(name, ok, detail)`` output checks against
  DuckDB or batch references, run outside any timing;
* ``cycle()`` — the ops of one full pass, as ``(name, callable)``
  pairs; the caller times each, and each returns the work units it did
  (the same for every run of one name);
* ``after_op`` / ``end_window`` / ``layer_extras`` hooks for the
  bookkeeping behind the per-layer metrics.

An op is the unit whose latency is reported: a day (batch DAG plus the
streaming catch-up) for ``ingest_daily``; a registered query or one step
of the corpus curation job for ``adhoc_analytics``.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

from spans import Tracer, layer_of

from tools.check_oracle import table_hash

def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _duck():
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    return con


def _tree_bytes(path: str, suffix: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path`` ending in ``suffix``."""
    n = size = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(suffix):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def _same(a_rows, a_cols, b_rows, b_cols) -> tuple[bool, str]:
    if len(a_rows) != len(b_rows):
        return False, f"rows {len(a_rows)} != {len(b_rows)}"
    if sorted(a_cols) != sorted(b_cols):
        return False, f"cols {sorted(a_cols)} != {sorted(b_cols)}"
    if table_hash(a_rows, list(a_cols)) != table_hash(b_rows, list(b_cols)):
        return False, "value-hash mismatch"
    return True, f"{len(a_rows)} rows"


class Workload:
    name = ""
    #: what one work unit is, for the throughput metric
    unit = ""

    def __init__(self, spark, gen_dir: str, manifest: dict, work_dir: str, tracer: Tracer, seed: int):
        self.spark = spark
        self.gen_dir = gen_dir
        self.manifest = manifest
        self.work_dir = work_dir
        self.tracer = tracer
        self.seed = seed
        self.corpus = os.path.join(gen_dir, manifest["corpus_dir"])

    def after_op(self, traced: bool) -> None:
        """Bookkeeping after a timed op (outside its timing)."""

    def end_window(self, traced: bool) -> dict:
        """Called after a measured window; returns extra summary figures."""
        return {}

    def layer_extras(self, n_ops: int) -> dict[str, float]:
        return {}


# --- ingest_daily ----------------------------------------------------------


class IngestDaily(Workload):
    """The reference DAG, one op per day: the day's post drop goes clean ->
    upsert into the ds-partitioned lake -> top-100 CSV, then the day's
    event file lands in the stream source and both streaming runners
    catch up on it with ``availableNow`` (windowed aggregate, and a
    partitioned upsert per micro-batch), keeping their checkpoints across
    days. A cycle is one DAG run from an empty lake, so day k always
    merges into k earlier days."""

    name = "ingest_daily"
    unit = "rows"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.drops = self.manifest["drops"]
        self.event_files = self.manifest["event_files"]
        self.dag_dir = os.path.join(self.work_dir, "dag")
        self.counts = dict.fromkeys(("upsert_bytes", "upsert_files", "csv_files", "csv_bytes", "in_bytes", "lake_bytes"), 0)
        self._listen(self.spark)

    def _listen(self, spark) -> None:
        """Record ``spark``'s streaming progress through the public
        listener API."""
        from pyspark.sql.streaming import StreamingQueryListener

        sink = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                sink.started.add(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                sink.progress.append({"rows": p.numInputRows, "ms": dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                sink.terminated.add(str(event.runId))

        self.started: set[str] = set()
        self.terminated: set[str] = set()
        self.progress: list[dict] = []
        spark.streams.addListener(Listener())

    def path(self, name: str) -> str:
        """Per-DAG output locations; the event source is named like a
        corpus table so the batch twin ``s01_tumbling_window`` reads it."""
        if name == "events":
            return os.path.join(self.dag_dir, "stream", "events.parquet")
        return os.path.join(self.dag_dir, name)

    def _csv(self, k: int) -> str:
        return os.path.join(self.path("csv"), f"day_{k:02d}")

    def _day(self, k: int) -> int:
        from pyspark.sql import functions as F

        from reddit_data_engineering_project_spark import pipeline
        from reddit_data_engineering_project_spark.operators import upsert
        from reddit_data_engineering_project_spark.streaming import runner
        from reddit_data_engineering_project_spark.transforms import posts

        # every call below is an instrumented entry point (spans.ENTRY_POINTS)
        drop = self.drops[k]
        raw = self.spark.read.schema(posts.RAW_POST_SCHEMA).parquet(os.path.join(self.gen_dir, drop["path"]))
        cleaned = posts.clean_posts(raw).select(
            "*",
            F.lit(k).alias("ingest_day"),
            F.coalesce(F.to_date("created_utc"), F.lit(drop["date"]).cast("date")).alias("ds"),
        )
        upsert.upsert_parquet(
            self.spark, cleaned, self.path("lake"), keys=["id"], recency_col="ingest_day", partition_col="ds"
        )
        pipeline.run_pipeline(self.spark, raw, self._csv(k), limit=100)
        runner.run_tumbling_stream(self.spark, self.path("events"), self.path("window_sink"), self.path("ckpt_window"))
        runner.run_upsert_stream(
            self.spark, self.path("events"), self.path("events_table"), self.path("ckpt_upsert"),
            keys=["event_id"], recency_col="version", partition_col="ds",
        )
        self._last = k
        return drop["rows"] + self.event_files[k]["rows"]

    def cycle(self):
        shutil.rmtree(self.dag_dir, ignore_errors=True)
        os.makedirs(self.path("events"))
        for k in range(len(self.drops)):
            ev = self.event_files[k]["path"]
            shutil.copy(os.path.join(self.gen_dir, ev), os.path.join(self.path("events"), os.path.basename(ev)))
            yield f"day_{k:02d}", lambda k=k: self._day(k)

    def warmup(self) -> None:
        for _name, op in self.cycle():
            op()
            self.after_op(False)

    def after_op(self, traced: bool) -> None:
        # listener events arrive asynchronously; wait (outside the op's
        # timing) until every started query reported its termination
        deadline = time.monotonic() + 10
        while self.started - self.terminated and time.monotonic() < deadline:
            time.sleep(0.01)
        if not traced:
            return
        files, size = _tree_bytes(self.path("lake"), ".parquet")
        self.counts["upsert_files"] += files
        self.counts["upsert_bytes"] += size
        self.counts["lake_bytes"] = size
        files, size = _tree_bytes(self._csv(self._last), ".csv")
        self.counts["csv_files"] += files
        self.counts["csv_bytes"] += size
        self.counts["in_bytes"] += os.path.getsize(os.path.join(self.gen_dir, self.drops[self._last]["path"]))

    def end_window(self, traced: bool) -> dict:
        """Collect the window's streaming micro-batches (data-carrying only)."""
        got, self.progress = self.progress, []
        batches = [p for p in got if p["rows"] > 0]
        if traced:
            self.traced_batches = batches
        ms = [p["ms"]["triggerExecution"] for p in batches]
        return {"stream_batches": len(ms), "stream_batch_p50_s": statistics.median(ms) / 1000 if ms else 0.0}

    def _raw_sql(self, ks) -> str:
        parts = [
            f"SELECT *, {k} AS ingest_day, DATE '{self.drops[k]['date']}' AS drop_date "
            f"FROM read_parquet('{os.path.join(self.gen_dir, self.drops[k]['path'])}')"
            for k in ks
        ]
        return " UNION ALL ".join(parts)

    def _clean_sql(self, ks) -> str:
        return f"""
        SELECT id,
               trim(coalesce(title, '')) AS title,
               coalesce(TRY_CAST(nullif(trim(score), '') AS BIGINT), 0) AS score,
               coalesce(TRY_CAST(nullif(trim(num_comments), '') AS BIGINT), 0) AS num_comments,
               coalesce(nullif(author, ''), 'Unknown') AS author,
               CAST(created_utc AS BIGINT) AS created_s,
               url,
               coalesce(TRY_CAST(over_18 AS BOOLEAN), false) AS over_18,
               CASE WHEN lower(trim(edited)) IN ('true', 'false')
                    THEN lower(trim(edited)) = 'true' ELSE false END AS edited,
               coalesce(TRY_CAST(spoiler AS BOOLEAN), false) AS spoiler,
               coalesce(TRY_CAST(stickied AS BOOLEAN), false) AS stickied,
               ingest_day,
               CAST(coalesce(CAST(epoch_ms(CAST(created_utc * 1000 AS BIGINT)) AS DATE), drop_date)
                    AS VARCHAR) AS ds
        FROM ({self._raw_sql(ks)})
        """

    def check(self) -> list[tuple[str, bool, str]]:
        con = _duck()
        try:
            out = []
            lake = con.execute(
                f"""SELECT id, title, score, num_comments, author,
                           CAST(epoch(created_utc) AS BIGINT) AS created_s, url, over_18,
                           edited, spoiler, stickied, ingest_day, CAST(ds AS VARCHAR) AS ds
                    FROM read_parquet('{self.path("lake")}/*/*.parquet', hive_partitioning = 1)"""
            )
            lake_cols = [d[0] for d in lake.description]
            lake_rows = lake.fetchall()
            ref = con.execute(
                f"""SELECT * FROM ({self._clean_sql(range(len(self.drops)))})
                    QUALIFY row_number() OVER (PARTITION BY id ORDER BY ingest_day DESC) = 1"""
            )
            ok, detail = _same(lake_rows, lake_cols, ref.fetchall(), [d[0] for d in ref.description])
            out.append(("lake_keep_latest", ok, detail))
            for k in range(len(self.drops)):
                csv = con.execute(
                    f"SELECT * FROM read_csv('{self._csv(k)}/*.csv', header = true, all_varchar = true)"
                )
                csv_cols = [d[0] for d in csv.description]
                csv_rows = [tuple(v or "" for v in r) for r in csv.fetchall()]
                ref = con.execute(
                    f"""SELECT id, title, CAST(score AS VARCHAR) AS score,
                               CAST(num_comments AS VARCHAR) AS num_comments, author,
                               strftime(epoch_ms(created_s * 1000), '%Y-%m-%dT%H:%M:%S') || '+00:00'
                                   AS created_utc,
                               url,
                               CAST(over_18 AS VARCHAR) AS over_18, CAST(edited AS VARCHAR) AS edited,
                               CAST(spoiler AS VARCHAR) AS spoiler, CAST(stickied AS VARCHAR) AS stickied
                        FROM (SELECT * FROM ({self._clean_sql([k])})
                              ORDER BY score DESC, id ASC LIMIT 100)"""
                )
                ref_rows = [tuple(v or "" for v in r) for r in ref.fetchall()]
                ok, detail = _same(csv_rows, csv_cols, ref_rows, [d[0] for d in ref.description])
                out.append((f"top100_csv_day{k}", ok, detail))
            cols = (
                "event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props, version, "
                "CAST(ds AS VARCHAR) AS ds"
            )
            tgt = con.execute(
                f"SELECT {cols} FROM read_parquet('{self.path('events_table')}/*/*.parquet', hive_partitioning = 1)"
            )
            t_cols = [x[0] for x in tgt.description]
            t_rows = tgt.fetchall()
            ref = con.execute(
                f"""SELECT {cols} FROM read_parquet('{self.path("events")}/*.parquet')
                    QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY version DESC) = 1"""
            )
            ok, detail = _same(t_rows, t_cols, ref.fetchall(), [x[0] for x in ref.description])
            out.append(("upsert_stream_keep_latest", ok, detail))
        finally:
            con.close()
        out.append(self._check_window_stream())
        return out

    def _check_window_stream(self) -> tuple[str, bool, str]:
        """Every emitted window equals the batch ``s01_tumbling_window``
        row, and every window the final watermark closed was emitted."""
        import datetime as dt

        from pyspark.sql import functions as F

        from reddit_data_engineering_project_spark import registry
        from reddit_data_engineering_project_spark.functions.numeric import dround

        streamed = (
            self.spark.read.option("recursiveFileLookup", True)
            .parquet(self.path("window_sink"))
            .select("window_start", "event_type", "n_events", dround(F.col("total_value")).alias("total_value"))
        )
        s_rows = {tuple(r) for r in streamed.collect()}
        batch = registry.QUERIES["s01_tumbling_window"](self.spark, os.path.dirname(self.path("events")))
        b_rows = {tuple(r) for r in batch.collect()}
        max_ts = self.spark.read.parquet(self.path("events")).agg(F.max("ts")).first()[0]
        closed = {r for r in b_rows if r[0] + dt.timedelta(hours=2) <= max_ts}
        extra = s_rows - b_rows
        missing = closed - s_rows
        return (
            "window_stream_vs_s01_tumbling_window",
            not extra and not missing,
            f"{len(s_rows)} streamed rows, {len(extra)} not in batch, {len(missing)} closed windows missing",
        )

    def layer_extras(self, n_ops: int) -> dict[str, float]:
        from reddit_data_engineering_project_spark.transforms import posts

        c = self.counts
        n = max(n_ops, 1)
        raw = self.spark.read.schema(posts.RAW_POST_SCHEMA).parquet(os.path.join(self.gen_dir, self.drops[0]["path"]))
        rows_in = raw.count()
        rows_out = posts.clean_posts(raw).count()
        b = self.traced_batches
        trig = sum(p["ms"].get("triggerExecution", 0) for p in b) or 1
        return {
            "operators.upsert.write_amp": c["upsert_bytes"] / max(c["in_bytes"], 1),
            "operators.upsert.lake_mb": c["lake_bytes"] / 2**20,
            "operators.upsert.files_written": c["upsert_files"] / n,
            "operators.sinks.files_written": c["csv_files"] / n,
            "operators.sinks.bytes_written_mb": c["csv_bytes"] / n / 2**20,
            "transforms.posts.rows_out_per_in": rows_out / max(rows_in, 1),
            "streaming.runner.batches": len(b) / n,
            "streaming.runner.add_batch_pct": 100 * sum(p["ms"].get("addBatch", 0) for p in b) / trig,
            "streaming.runner.wal_commit_pct": 100 * sum(p["ms"].get("walCommit", 0) for p in b) / trig,
            "streaming.runner.query_planning_pct": 100 * sum(p["ms"].get("queryPlanning", 0) for p in b) / trig,
        }


# --- adhoc_analytics -------------------------------------------------------

ADHOC_QUERIES = (
    "q04_topk",
    "q07_hash_aggregate",
    "q09_cube",
    "q10_star_report",
    "q10_bloom_prune",
    "q11_asof_join",
    "q13_topn_per_group",
    "q21_funnel_conversion",
    "q21_sessionize_gap",
    "q21_copurchase_lift",
    "q22_rolling_zscore",
)
#: The curation job's steps, each one op: curate; MinHash-LSH near-dup
#: pairs -> connected components; semantic dedup over the embeddings.
CURATION_OPS = ("curate", "neardup_components", "semantic_dedup")
#: Output checks of the curation steps: (result key, registry oracle).
CURATION_ORACLES = (
    ("curate", "pipeline_curation_full"),
    ("pairs", "x02_minhash_lsh_neardup"),
    ("semantic_dedup", "x02_semantic_dedup"),
)


class AdhocAnalytics(Workload):
    """One analyst over the corpus, in a seeded order: the registered
    star-schema and event queries, and the three steps of the corpus
    curation job over the documents and embeddings. Every result is forced
    with a ``noop`` write. A cycle is every op once."""

    name = "adhoc_analytics"
    unit = "ops"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.order_rng = random.Random(self.seed)
        self.results: dict[str, tuple[list, list]] = {}
        self.planted = {tuple(p) for p in self.manifest["planted_pairs"]}

    def _force(self, key: str, df, collect: bool) -> None:
        if collect:
            self.results[key] = (df.columns, [tuple(r) for r in df.collect()])
        else:
            _noop(df)

    def _query(self, name: str, collect: bool = False) -> int:
        from reddit_data_engineering_project_spark import registry

        fn = registry.QUERIES[name]
        with self.tracer.span(layer_of(fn.__module__)):
            self._force(name, fn(self.spark, self.corpus), collect)
        return 1

    def _curation(self, name: str, collect: bool = False) -> int:
        from reddit_data_engineering_project_spark import tables
        from reddit_data_engineering_project_spark.operators import curation, dedup, similarity

        docs = tables.table(self.spark, self.corpus, "documents")
        if name == "curate":
            with self.tracer.span("operators.curation"):
                self._force("curate", curation.curate(docs), collect)
        elif name == "neardup_components":
            with self.tracer.span("operators.dedup"):
                pairs = dedup.minhash_pairs_over(docs)
                if collect:
                    self._force("pairs", pairs, collect)
                self._force("labels", dedup.propagate_min_labels(pairs), collect)
        else:
            with self.tracer.span("operators.similarity"):
                emb = similarity.embedded(self.spark, self.corpus)
                self._force("semantic_dedup", similarity.semantic_dedup_over(emb), collect)
        return 1

    def _op(self, name: str, collect: bool = False) -> int:
        return self._curation(name, collect) if name in CURATION_OPS else self._query(name, collect)

    def cycle(self):
        order = list(ADHOC_QUERIES + CURATION_OPS)
        self.order_rng.shuffle(order)
        for name in order:
            yield name, lambda name=name: self._op(name)

    def after_op(self, traced: bool) -> None:
        self.spark.catalog.clearCache()

    def warmup(self) -> None:
        # only the first pass keeps its rows for check()
        collect = not self.results
        for name in ADHOC_QUERIES + CURATION_OPS:
            self._op(name, collect=collect)
            self.after_op(False)

    def check(self) -> list[tuple[str, bool, str]]:
        from reddit_data_engineering_project_spark import registry

        con = _duck()
        try:
            for t in (
                "region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
                "documents", "embeddings",
            ):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.corpus}/{t}.parquet')")
            out = []
            for key, oracle in tuple((q, q) for q in ADHOC_QUERIES) + CURATION_ORACLES:
                cols, rows = self.results[key]
                ref = con.execute(registry.ORACLES[oracle])
                ok, detail = _same(rows, cols, ref.fetchall(), [d[0] for d in ref.description])
                out.append((key if key == oracle else f"{key}_vs_{oracle}", ok, detail))
        finally:
            con.close()
        found = {(min(a, b), max(a, b)) for a, b in self.results["pairs"][1]}
        self.recall = len(self.planted & found) / max(len(self.planted), 1)
        self.verified = len(found)
        out.append(("planted_pair_recall", self.recall == 1.0, f"recall {self.recall:.4f}"))
        cols, rows = self.results["labels"]
        label = {r[cols.index("doc")]: r[cols.index("label")] for r in rows}
        split = [f for f in self.manifest["families"] if len({label.get(d) for d in f}) != 1]
        out.append(("family_components", not split, f"{len(split)} split families"))
        return out

    def layer_extras(self, n_ops: int) -> dict[str, float]:
        """Candidate count from ``band_buckets`` outside any span (the
        tracer is off while this runs)."""
        from pyspark.sql import functions as F

        from reddit_data_engineering_project_spark import tables
        from reddit_data_engineering_project_spark.operators import dedup

        docs = tables.table(self.spark, self.corpus, "documents")
        b = dedup.band_buckets(dedup.minhash_signatures(dedup.shingles(docs, distinct=False)))
        cand = (
            b.alias("l")
            .join(
                b.alias("r"),
                (F.col("l.band_id") == F.col("r.band_id"))
                & (F.col("l.band_hash") == F.col("r.band_hash"))
                & (F.col("l.doc_id") < F.col("r.doc_id")),
            )
            .select("l.doc_id", "r.doc_id")
            .distinct()
            .count()
        )
        return {
            "operators.dedup.verified_pairs": float(self.verified),
            "operators.dedup.planted_recall": self.recall,
            "operators.dedup.verified_per_candidate": self.verified / max(cand, 1),
        }


WORKLOADS = {w.name: w for w in (IngestDaily, AdhocAnalytics)}
