"""Incremental / streaming ingestion.

The reference is pure batch — run-to-completion cluster scripts with
checkpoint-free restarts (/root/reference/lib/shadowcat_serialize_viaf_agents.js:204-208)
— so the core engine stays batch (SURVEY.md §2.8). This package adds the
incremental surface a continuously-crawled corpus needs: folds of new
page batches into the agents table, with the order-free merge algebra
making them correct by construction (incremental.py); crawl-time
windowed metrics (windowed.py); and two real Structured Streaming
queries, stateful per-name totals (stateful.py) and a stream-stream
interval join (joins.py).
"""

from serialization_agents_spark.streaming.incremental import (  # noqa: F401
    incremental_merge_batch,
)
