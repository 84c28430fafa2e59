"""Structured Streaming surface — beyond-reference capability.

The reference has **no** streaming layer (SURVEY.md §2.5: no watermarks,
windows, or stateful operators anywhere; the window hook in its AST is a
todo — doradb-sql/src/ast.rs:1278). This package wires the batch window
semantics of ``xngin_spark.queries.windows`` to Structured Streaming so
the same event-analytics run incrementally over a live feed:

- ``io``       — schema-pinned file-stream sources + the one availableNow
                 runner every sink starts through.
- ``windows``  — watermarked tumbling / sliding / session aggregations
                 (identical aggregate exprs to the batch twins, so batch
                 results are the oracle for streaming correctness).
- ``stateful`` — custom per-key state machines via
                 ``applyInPandasWithState`` (running totals, pattern
                 matching, attribution; bounded state, no timeouts).

Scale notes: a streaming agg shuffles by (window, keys) exactly like the
batch groupBy; state store size is bounded by the watermark horizon, so
the delay chosen bounds memory at any input rate. File-source listing is
incremental (``maxFilesPerTrigger``) — at 100 TB/day the same topology
points at a bucketed object-store prefix or Kafka source unchanged.
"""

from xngin_spark.streaming.io import (
    documents_stream,
    embeddings_stream,
    events_stream,
    run_available_now,
)
from xngin_spark.streaming.joins import stream_dedup, stream_stream_join
from xngin_spark.streaming.windows import (
    stream_session,
    stream_sliding,
    stream_tumbling,
)
from xngin_spark.streaming.stateful import (
    stream_attribution,
    stream_attribution_linear,
    stream_attribution_timedecay,
    stream_attribution_ushaped,
    running_totals,
    stream_pattern_match,
    stream_transitions,
)

__all__ = [
    "documents_stream",
    "embeddings_stream",
    "events_stream",
    "run_available_now",
    "stream_tumbling",
    "stream_sliding",
    "stream_session",
    "running_totals",
    "stream_attribution",
    "stream_attribution_linear",
    "stream_attribution_timedecay",
    "stream_attribution_ushaped",
    "stream_pattern_match",
    "stream_transitions",
    "stream_dedup",
    "stream_stream_join",
]
