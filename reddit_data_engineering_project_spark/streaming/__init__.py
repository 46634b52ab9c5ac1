"""Streaming surface: batch-equivalent S1-S5 queries, the live
availableNow runners, and the two applyInPandasWithState stateful
operators (rolling z-score, event-time-timeout sessionizer).

Every live runner (``runner.py`` and ``stateful.py``) runs on the one
file-stream driver in ``runner.py``: ``_file_stream`` (replayable
parquet source + ingest-contract observation), ``_overwrite_sink``
(per-batch idempotent sink) and ``_drain`` (the single availableNow
query, its shard-count scope and its contract gate)."""
